"""C4-style document filtering and BPE-ish token counting (oracle rows 74-75).

Two more corpus-management staples a training-data pipeline runs over every
crawl, both pure map-side single-scan shapes:

  - ``c4_quality_filter``: the document-level heuristics of Raffel et al.
    2020 ("Exploring the Limits of Transfer Learning...", §2.2, public) —
    sentence-count minimum, curly-brace (code) exclusion, "lorem ipsum" and
    "javascript" boilerplate exclusion — plus the two C4 LINE-filter
    statistics (terminal-punctuation line fraction, short-line fraction)
    reported as metrics so an operator can see what the line scrub would
    remove before running it. Line definition shared with the Gopher line
    family (plans/lines.py) so the two rule sets can never disagree about
    what a line is.

  - ``bpe_token_counts``: token counting under a BPE-ish lexer regex
    (contraction suffixes | letter runs | digit runs | punctuation runs —
    the shape of the GPT-2 pre-tokenizer, restricted to an ASCII-portable
    subset both regex engines interpret identically) next to the whitespace
    count, with tokens-per-word and chars-per-token ratios. Whitespace
    tokenization says "1 token" for 'state-of-the-art!!!' where a trainer's
    tokenizer sees ~9 — budget math (select_token_budget, pack_sequences)
    needs the lexer-grade count.

Cross-engine exactness: whitespace classes come from functions/tokenize.py
(the Java-vs-RE2 ``\\x0B`` divergence), the BPE pattern avoids ``\\s``/
``\\p{...}`` classes entirely, counts are integers, and every ratio is a
double division of identical operands rounded to 6 places.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_DUCK, W_SPARK, WS_CHARS
from ..functions.tokenize import words_duck as _wduck
from ..functions.tokenize import words_spark as _wspark
from ..sources.readers import load_table
from .lines import _LINES_DUCK, _LINES_SPARK
from .registry import declare

MIN_SENTENCES = 3
MIN_LINE_WORDS = 5

# a sentence boundary is a terminal punctuation mark; a "terminal line" ends
# in one — Raffel et al. 2020 §2.2 counts an END QUOTATION MARK itself as
# terminal punctuation, so bare straight/curly closing quotes qualify too
# ('''' is one apostrophe inside a SQL single-quoted literal, both engines)
_SENT_PAT = "[.!?]"
_TERMINAL = (
    "right(l, 1) IN ('.', '!', '?', '\"', '''', '”', '’')"
)


@declare(
    "c4_quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_LINES_DUCK} AS ls FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(ls) AS INTEGER) AS n_lines,
             CAST(len(regexp_extract_all(text, '{_SENT_PAT}')) AS INTEGER)
               AS n_sentences,
             CAST(len(list_filter(ls, l -> {_TERMINAL})) AS INTEGER) AS _nt,
             CAST(len(list_filter(ls,
                    l -> len({_wduck("l")})
                         < {MIN_LINE_WORDS})) AS INTEGER) AS _ns,
             coalesce(contains(text, '{{'), FALSE) AS has_brace,
             coalesce(contains(lower(text), 'lorem ipsum'), FALSE) AS has_lorem,
             coalesce(contains(lower(text), 'javascript'), FALSE) AS has_javascript
      FROM t)
    SELECT doc_id, n_lines, n_sentences,
           round(CAST(_nt AS DOUBLE) / nullif(n_lines, 0), 6)
             AS frac_terminal_lines,
           round(CAST(_ns AS DOUBLE) / nullif(n_lines, 0), 6)
             AS frac_short_lines,
           has_brace, has_lorem, has_javascript,
           (coalesce(n_sentences >= {MIN_SENTENCES}, FALSE)
            AND NOT has_brace AND NOT has_lorem AND NOT has_javascript) AS keep
    FROM m ORDER BY doc_id
    """,
    doc="C4 document heuristics (Raffel et al. 2020 §2.2): keep iff >= 3 "
    "sentences (terminal-punctuation count) and no curly brace / 'lorem "
    "ipsum' / 'javascript' marker; plus the two C4 line-filter statistics "
    "(terminal-line and short-line fractions over the shared non-empty-"
    "line definition) reported as metrics. Pure map-side arithmetic over "
    "one scan — no shuffle at any corpus size; NULL text -> NULL metrics, "
    "keep = false.",
)
def c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_filter_df(load_table(spark, sf_dir, "documents"))


def c4_filter_df(d: DataFrame) -> DataFrame:
    t = d.select("doc_id", "text", F.expr(_LINES_SPARK).alias("ls"))
    m = t.select(
        "doc_id",
        F.expr("size(ls)").cast("int").alias("n_lines"),
        F.expr(f"size(regexp_extract_all(text, '{_SENT_PAT}', 0))")
        .cast("int")
        .alias("n_sentences"),
        F.expr(f"size(filter(ls, l -> {_TERMINAL}))").cast("int").alias("_nt"),
        # the SHARED tokenizer helpers (functions/tokenize.py): hand-rolled
        # copies of these expressions are how the trim-vs-trim(' ') unicode
        # divergence would creep back in
        F.expr(f"size(filter(ls, l -> size({_wspark('l')}) < {MIN_LINE_WORDS}))")
        .cast("int")
        .alias("_ns"),
        F.coalesce(F.expr("contains(text, '{')"), F.lit(False)).alias("has_brace"),
        F.coalesce(F.expr("contains(lower(text), 'lorem ipsum')"), F.lit(False)).alias(
            "has_lorem"
        ),
        F.coalesce(F.expr("contains(lower(text), 'javascript')"), F.lit(False)).alias(
            "has_javascript"
        ),
    )
    nl = F.expr("nullif(n_lines, 0)")
    return m.select(
        "doc_id",
        "n_lines",
        "n_sentences",
        F.round(F.col("_nt").cast("double") / nl, 6).alias("frac_terminal_lines"),
        F.round(F.col("_ns").cast("double") / nl, 6).alias("frac_short_lines"),
        "has_brace",
        "has_lorem",
        "has_javascript",
        (
            F.coalesce(F.col("n_sentences") >= MIN_SENTENCES, F.lit(False))
            & ~F.col("has_brace")
            & ~F.col("has_lorem")
            & ~F.col("has_javascript")
        ).alias("keep"),

        # barrier-before-orderBy: map-only child (plans/present.py)
    ).repartition("doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE-ish token counting
# ---------------------------------------------------------------------------

# GPT-2-shaped pre-tokenizer, ASCII-portable subset: contraction suffixes,
# letter runs, digit runs, then runs of anything else that is not a letter,
# digit, or whitespace (whitespace itself is never a token). Both engines
# read this identically: no \s, no \p classes, no backreferences; the
# whitespace set is the shared Java-\s spelling (functions/tokenize.py).
# The doubled '' renders one apostrophe inside both engines' SQL literals.
_BPE_CORE = "''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9{ws}]+"
_BPE_DUCK = _BPE_CORE.format(ws=WS_CHARS)
_BPE_SPARK = _BPE_CORE.format(ws=WS_CHARS.replace("\\", "\\\\"))


@declare(
    "bpe_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len({W_DUCK}) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_DUCK}')) AS INTEGER)
             AS n_bpe_tokens,
           round(CAST(len(regexp_extract_all(text, '{_BPE_DUCK}')) AS DOUBLE)
                 / nullif(len({W_DUCK}), 0), 6) AS bpe_per_word,
           round(CAST(length(text) AS DOUBLE)
                 / nullif(len(regexp_extract_all(text, '{_BPE_DUCK}')), 0), 6)
             AS chars_per_bpe_token
    FROM documents ORDER BY doc_id
    """,
    doc="BPE-ish token counting: per-doc token count under a GPT-2-shaped "
    "lexer regex (contraction suffixes | letter runs | digit runs | "
    "non-alnum punctuation runs; ASCII-portable, no engine-divergent regex "
    "classes) next to the whitespace word count, with tokens-per-word and "
    "chars-per-token ratios — the lexer-grade count token-budget math "
    "needs where whitespace counting undercounts punctuation-heavy text. "
    "One map-side scan, integer counts, identical-operand divisions.",
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_counts_df(load_table(spark, sf_dir, "documents"))


@declare(
    "token_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len({W_DUCK}) AS INTEGER)) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(CAST(len(regexp_extract_all(text, '{_BPE_DUCK}')) AS INTEGER)) AS BIGINT)
             AS n_bpe_tokens,
           round(CAST(SUM(CAST(len(regexp_extract_all(text, '{_BPE_DUCK}')) AS INTEGER)) AS DOUBLE)
                 / nullif(SUM(CAST(len({W_DUCK}) AS INTEGER)), 0), 6) AS fertility
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Tokenizer fertility per language (tokens per whitespace word under "
    "the same GPT-2-shaped lexer as bpe_token_counts): the standard "
    "multilingual-balance metric — languages whose scripts fragment into "
    "more tokens per word consume a larger share of a fixed token budget, "
    "so mixing decisions (lang_temperature_sample, lang_epoch_mix) read "
    "this table first. One map-side scan + one tiny aggregation on lang "
    "(bounded cardinality); integer sums, identical-operand division.",
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "lang",
        F.expr(f"size({W_SPARK})").cast("int").alias("_ws"),
        F.expr(f"size(regexp_extract_all(text, '{_BPE_SPARK}', 0))")
        .cast("int")
        .alias("_bpe"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ws").alias("n_ws_tokens"),
            F.sum("_bpe").alias("n_bpe_tokens"),
            F.round(
                F.sum("_bpe").cast("double") / F.expr("nullif(sum(_ws), 0)"), 6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


def bpe_counts_df(d: DataFrame) -> DataFrame:
    m = d.select(
        "doc_id",
        F.length("text").cast("int").alias("_len"),
        F.expr(f"size({W_SPARK})").cast("int").alias("n_ws_tokens"),
        F.expr(f"size(regexp_extract_all(text, '{_BPE_SPARK}', 0))")
        .cast("int")
        .alias("n_bpe_tokens"),
    )
    return m.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens").cast("double") / F.expr("nullif(n_ws_tokens, 0)"),
            6,
        ).alias("bpe_per_word"),
        F.round(
            F.col("_len").cast("double") / F.expr("nullif(n_bpe_tokens, 0)"), 6
        ).alias("chars_per_bpe_token"),

        # barrier-before-orderBy: map-only child (plans/present.py)
    ).repartition("doc_id").orderBy("doc_id")
