"""Corpus-quality and corpus-management operators (declared queries 55-60).

Operators a production training-data pipeline runs over every corpus,
beyond the dedup/decontamination/packing surface already in plans/llm.py and
plans/pipeline.py:

  - gopher_quality_filter: the word-statistics rule family of Rae et al. 2021
    ("Scaling Language Models: ... Gopher", public) — doc-level keep/drop from
    word count, mean word length, alphabetic-word fraction and stop-word
    containment. (The repetition rules of the same paper live in
    top_ngram_repetition; line-level rules are degenerate on the fixture
    corpus, which has no newlines.)
  - lang_temperature_sample: temperature-based language rebalancing
    (multilingual-corpus sampling p_l ~ c_l^alpha, alpha=0.5 — the standard
    mBERT/XLM-R recipe, public) with a deterministic md5-derived coin so the
    sample is reproducible run-to-run and engine-to-engine.
  - embedding_quantized_topk: int8 symmetric scalar quantization of the
    embedding column + integer-dot top-k — the memory-bandwidth path for ANN
    at 100 TB (4x smaller scans than float32; integer dots SIMD-vectorize).
  - corpus_stats_report: the per-source corpus report card (doc/char/word
    totals, exact median and p90 order statistics via a value HISTOGRAM —
    never a corpus-sized sort window, vocabulary size, corpus share) every
    ingest run publishes before training starts.
  - select_token_budget: greedy highest-quality-first selection until a
    token budget fills, riding the distributed prefix-sum.
  - lang_epoch_mix: the uncapped temperature recipe — epochs-per-domain
    oversampling of minorities, Bernoulli downsampling of majorities.

All are single-scan shapes: gopher is pure map-side column arithmetic;
temperature sampling is two O(#langs) aggregates broadcast back over one
corpus scan; quantized top-k broadcasts a one-row scale vector and the query
side; the stats report is one shuffle on source plus a distinct-word
aggregate. Cross-engine exactness follows the registry rules: integer
accumulation everywhere, double division only of identical operands, and
quantization defined as floor(x + 0.5) on BOTH engines so no engine-specific
round() semantics are in play.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokenize import STOPWORDS, W_DUCK, W_SPARK, hash60_duck, hash60_spark
from ..sources.readers import load_table
from .registry import declare

# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------

# Rule thresholds from Rae et al. 2021 (Table A1), restricted to the
# word-statistics family (the fixture corpus has no lines or symbols, so the
# line/symbol rules would pass vacuously and verify nothing).
_MIN_WORDS, _MAX_WORDS = 50, 100_000
_MIN_MWL, _MAX_MWL = 3.0, 10.0
_MIN_ALPHA_FRAC = 0.8
_MIN_STOP_WORDS = 2


@declare(
    "gopher_quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {W_DUCK} AS ws FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS INTEGER) AS n_words,
             CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS _swl,
             CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS INTEGER)
               AS _na,
             CAST(len(list_filter(ws, w -> w IN {STOPWORDS})) AS INTEGER)
               AS n_stop_words
      FROM t)
    SELECT doc_id, n_words,
           round(CAST(_swl AS DOUBLE) / n_words, 6) AS mean_word_len,
           round(CAST(_na AS DOUBLE) / n_words, 6) AS frac_alpha_words,
           n_stop_words,
           coalesce(n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}, FALSE)
             AS pass_n_words,
           coalesce(CAST(_swl AS DOUBLE) / n_words
                      BETWEEN {_MIN_MWL} AND {_MAX_MWL}, FALSE) AS pass_word_len,
           coalesce(CAST(_na AS DOUBLE) / n_words >= {_MIN_ALPHA_FRAC}, FALSE)
             AS pass_alpha,
           coalesce(n_stop_words >= {_MIN_STOP_WORDS}, FALSE) AS pass_stop,
           (coalesce(n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}, FALSE)
            AND coalesce(CAST(_swl AS DOUBLE) / n_words
                           BETWEEN {_MIN_MWL} AND {_MAX_MWL}, FALSE)
            AND coalesce(CAST(_na AS DOUBLE) / n_words >= {_MIN_ALPHA_FRAC}, FALSE)
            AND coalesce(n_stop_words >= {_MIN_STOP_WORDS}, FALSE)) AS keep
    FROM m ORDER BY doc_id
    """,
    doc="Gopher word-statistics quality rules (Rae et al. 2021): per-doc word "
    "count, mean word length, alphabetic-word fraction, stop-word containment "
    "-> four pass flags + the conjunctive keep decision. Pure map-side column "
    "arithmetic over one scan (integer counts, double division of identical "
    "operands) — embarrassingly parallel at any corpus size; NULL-text rows "
    "keep NULL metrics and coalesce to keep=false.",
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_filter_df(load_table(spark, sf_dir, "documents"))


def gopher_filter_df(d: DataFrame) -> DataFrame:
    """Composable form over any (doc_id, text, ...) DataFrame — the query
    above binds it to the documents table."""
    t = d.select("doc_id", F.expr(W_SPARK).alias("ws"))
    m = t.select(
        "doc_id",
        F.expr("size(ws)").cast("int").alias("n_words"),
        F.expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))")
        .cast("bigint")
        .alias("_swl"),
        F.expr("size(filter(ws, w -> w rlike '[a-zA-Z]'))").cast("int").alias("_na"),
        F.expr(f"size(filter(ws, w -> w IN {STOPWORDS}))").cast("int").alias("n_stop_words"),
    )
    mwl = F.col("_swl").cast("double") / F.col("n_words")
    alpha = F.col("_na").cast("double") / F.col("n_words")
    pass_n = F.coalesce(F.col("n_words").between(_MIN_WORDS, _MAX_WORDS), F.lit(False))
    pass_mwl = F.coalesce(mwl.between(_MIN_MWL, _MAX_MWL), F.lit(False))
    pass_alpha = F.coalesce(alpha >= _MIN_ALPHA_FRAC, F.lit(False))
    pass_stop = F.coalesce(F.col("n_stop_words") >= _MIN_STOP_WORDS, F.lit(False))
    return m.select(
        "doc_id",
        "n_words",
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha, 6).alias("frac_alpha_words"),
        "n_stop_words",
        pass_n.alias("pass_n_words"),
        pass_mwl.alias("pass_word_len"),
        pass_alpha.alias("pass_alpha"),
        pass_stop.alias("pass_stop"),
        (pass_n & pass_mwl & pass_alpha & pass_stop).alias("keep"),
        # barrier-before-orderBy: map-only child (plans/present.py)
    ).repartition("doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Temperature-based language rebalancing
# ---------------------------------------------------------------------------

_TWO60 = float(1 << 60)
_COIN_SPARK = hash60_spark("concat('tsample|', CAST(doc_id AS STRING))")
_COIN_DUCK = hash60_duck("'tsample|' || CAST(doc_id AS VARCHAR)")

# The temperature-rate recipe (p_l ~ count_l^0.5) is shared by
# lang_temperature_sample (capped at 1.0 — pure downsampling) and
# lang_epoch_mix (uncapped — rates > 1 become repeat epochs). ONE
# implementation per engine so the quantized-sqrt determinism trick can
# never fork between the two queries that claim the same recipe.
_RATE_EXPR_DUCK = (
    "(CAST(sq AS DOUBLE) / CAST(s_tot AS DOUBLE))"
    " * (CAST(n_tot AS DOUBLE) / CAST(n_lang AS DOUBLE))"
)


def _lang_rates_ctes(cap: bool) -> str:
    """CTE chain ending in r(lang, n_lang, rate) — paste after WITH."""
    rate = f"least(1.0, {_RATE_EXPR_DUCK})" if cap else _RATE_EXPR_DUCK
    return f"""c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
               FROM documents GROUP BY lang),
    s AS (SELECT lang, n_lang,
                 CAST(floor(sqrt(CAST(n_lang AS DOUBLE)) * 1000000.0) AS BIGINT) AS sq
          FROM c),
    t AS (SELECT CAST(SUM(sq) AS BIGINT) AS s_tot,
                 CAST(SUM(n_lang) AS BIGINT) AS n_tot FROM s),
    r AS (SELECT lang, n_lang, {rate} AS rate
          FROM s CROSS JOIN t)"""


def lang_rates_df(d: DataFrame, cap: bool) -> DataFrame:
    """(lang, n_lang, rate) over any DataFrame with a lang column: two
    O(#langs) aggregates, integer-quantized sqrt, exact-operand double
    divisions — engine-identical to ``_lang_rates_ctes``."""
    c = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_lang"))
    s = c.select(
        "lang",
        "n_lang",
        F.floor(F.sqrt(F.col("n_lang").cast("double")) * 1000000.0)
        .cast("bigint")
        .alias("sq"),
    )
    # totals via an unbounded window over the O(#langs) aggregate, NOT a
    # second s.agg() + crossJoin: Catalyst inlines the latter as a SECOND
    # corpus scan+aggregate subtree (dsir r13 precedent; the before-plan
    # showed 3 scans). Integer sums of the same bigints — identical rates.
    w_all = Window.partitionBy()
    s = s.select(
        "lang",
        "n_lang",
        "sq",
        F.sum("sq").over(w_all).cast("bigint").alias("s_tot"),
        F.sum("n_lang").over(w_all).cast("bigint").alias("n_tot"),
    )
    rate = (F.col("sq").cast("double") / F.col("s_tot").cast("double")) * (
        F.col("n_tot").cast("double") / F.col("n_lang").cast("double")
    )
    if cap:
        rate = F.least(F.lit(1.0), rate)
    return s.select("lang", "n_lang", rate.alias("rate"))


@declare(
    "lang_temperature_sample",
    oracle=f"""
    WITH {_lang_rates_ctes(cap=True)}
    SELECT d.doc_id, d.lang,
           r.n_lang AS n_lang_docs,
           round(r.rate, 6) AS sample_rate
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE CAST({_COIN_DUCK} AS DOUBLE) / {_TWO60!r} < r.rate
    ORDER BY doc_id
    """,
    doc="Temperature-based language rebalancing (p_l ~ count_l^0.5, the "
    "standard multilingual sampling recipe): per-language acceptance rate "
    "least(1, p_l * N / count_l) keeps the corpus size while flattening the "
    "language skew; each doc flips a DETERMINISTIC md5-derived coin, so the "
    "sample is reproducible and engine-exact. sqrt is quantized to integer "
    "micro-units before the ratio so no cross-engine float-summation order "
    "exists; the rate is a product of two exact-operand double divisions "
    "(overflow-free at any corpus size). Scale shape: two O(#langs) "
    "aggregates, rates broadcast back over ONE corpus scan — map-side keep "
    "decision, no shuffle of the corpus.",
)
def lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    r = lang_rates_df(d, cap=True)
    coin = F.expr(_COIN_SPARK).cast("double") / F.lit(_TWO60)
    return (
        d.join(F.broadcast(r), "lang")
        .filter(coin < F.col("rate"))
        .select(
            "doc_id",
            "lang",
            F.col("n_lang").alias("n_lang_docs"),
            F.round("rate", 6).alias("sample_rate"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# int8-quantized embedding top-k
# ---------------------------------------------------------------------------

_DIMS = 64
_QK = 5

# floor(x + 0.5) on BOTH engines: symmetric-scale quantization with NO
# engine-specific round() semantics in play (floor and + are correctly
# rounded IEEE ops -> identical doubles -> identical integers).
_QUANT_SPARK = (
    f"transform(sequence(1, {_DIMS}), i -> coalesce(CAST(floor("
    "CAST(element_at(embedding, i) AS DOUBLE) * 127.0"
    " / nullif(element_at(ms, i), CAST(0 AS DOUBLE)) + 0.5d) AS BIGINT),"
    " CAST(0 AS BIGINT)))"
)
_QUANT_DUCK = (
    f"list_transform(range(1, {_DIMS + 1}), i -> coalesce(CAST(floor("
    "embedding[i]::DOUBLE * 127.0 / nullif(ms[i], 0.0) + 0.5) AS BIGINT), 0))"
)
_MAXS_DUCK = ", ".join(
    f"max(abs(embedding[{i}]::DOUBLE))" for i in range(1, _DIMS + 1)
)


@declare(
    "embedding_quantized_topk",
    oracle=f"""
    WITH msrow AS (SELECT [{_MAXS_DUCK}] AS ms FROM embeddings),
    q AS (SELECT vec_id, {_QUANT_DUCK} AS qv
          FROM embeddings CROSS JOIN msrow),
    n AS (SELECT vec_id, qv,
                 sqrt(CAST(list_sum(list_transform(qv, v -> v * v)) AS DOUBLE)) AS qn
          FROM q),
    qs AS (SELECT vec_id AS q_id, qv AS qa, qn AS qna FROM n WHERE vec_id < {_QK}),
    sims AS (
      SELECT q_id, vec_id,
             CAST(list_sum(list_transform(range(1, {_DIMS + 1}),
                                          i -> qa[i] * qv[i])) AS BIGINT) AS int_dot,
             round(CAST(list_sum(list_transform(range(1, {_DIMS + 1}),
                                                i -> qa[i] * qv[i])) AS DOUBLE)
                   / nullif(qna * qn, 0.0), 6) AS sim
      FROM qs CROSS JOIN n
      WHERE vec_id <> q_id),
    ranked AS (
      SELECT q_id, vec_id, int_dot, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM sims WHERE sim IS NOT NULL)
    SELECT q_id, vec_id, int_dot, sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_QK} ORDER BY q_id, rnk
    """,
    doc="int8 symmetric scalar quantization + integer-dot top-k: per-dim "
    "max-abs scales (one 64-column aggregate, broadcast as a one-row array), "
    "each vector quantized to [-127, 127] int64 JVM-side, similarity = exact "
    "integer dot / quantized norms. The 100 TB ANN memory-bandwidth path: "
    "the candidate scan shrinks 4x vs float32 and integer dots "
    "SIMD-vectorize; rank via row_number -> WindowGroupLimit partial top-k "
    "map-side, same plan shape as the float baseline (embedding_topk_cosine, "
    "whose exact results the agreement test compares against). Quantization "
    "is floor(x+0.5) on both engines — no engine round() semantics.",
)
def embedding_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    maxs = e.agg(
        *[
            F.max(F.abs(F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)"))).alias(
                f"m{i}"
            )
            for i in range(1, _DIMS + 1)
        ]
    ).select(F.array(*[f"m{i}" for i in range(1, _DIMS + 1)]).alias("ms"))
    q = e.crossJoin(F.broadcast(maxs)).select(
        "vec_id", F.expr(_QUANT_SPARK).alias("qv")
    )
    n = q.select(
        "vec_id",
        "qv",
        F.sqrt(
            F.expr(
                "aggregate(qv, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
            ).cast("double")
        ).alias("qn"),
    )
    qs = n.filter(F.col("vec_id") < _QK).select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("qa"),
        F.col("qn").alias("qna"),
    )
    int_dot = F.expr(
        "aggregate(zip_with(qa, qv, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    sims = (
        F.broadcast(qs)
        .crossJoin(n)
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("int_dot", int_dot)
        .withColumn(
            "sim",
            F.round(
                F.col("int_dot").cast("double")
                / F.expr("nullif(qna * qn, CAST(0 AS DOUBLE))"),
                6,
            ),
        )
        .filter(F.col("sim").isNotNull())
        .select("q_id", "vec_id", "int_dot", "sim")
    )
    ranked = sims.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
        ),
    )
    return (
        ranked.filter(F.col("rnk") <= _QK)
        .select("q_id", "vec_id", "int_dot", "sim", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("q_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Per-source corpus report card
# ---------------------------------------------------------------------------


@declare(
    "corpus_stats_report",
    oracle=f"""
    WITH base AS (SELECT doc_id, source, n_chars, {W_DUCK} AS ws FROM documents),
    w AS (SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                 CAST(SUM(len(ws)) AS BIGINT) AS total_words
          FROM base GROUP BY source),
    dw AS (SELECT source, CAST(COUNT(DISTINCT word) AS BIGINT) AS distinct_words
           FROM (SELECT source, unnest(ws) AS word FROM base) u GROUP BY source),
    ranked AS (SELECT source, n_chars,
                      ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY n_chars, doc_id) AS rn,
                      COUNT(*) OVER (PARTITION BY source) AS cnt
               FROM base),
    med AS (
      SELECT source,
             round(CAST(SUM(CASE WHEN rn IN (CAST(floor((cnt + 1) / 2.0) AS BIGINT),
                                             CAST(ceil((cnt + 1) / 2.0) AS BIGINT))
                              THEN n_chars END) AS DOUBLE)
                   / SUM(CASE WHEN rn IN (CAST(floor((cnt + 1) / 2.0) AS BIGINT),
                                          CAST(ceil((cnt + 1) / 2.0) AS BIGINT))
                           THEN 1 ELSE 0 END), 6) AS median_chars,
             CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT)
                        THEN n_chars END) AS INTEGER) AS p90_chars
      FROM ranked GROUP BY source)
    SELECT w.source, n_docs, total_chars,
           round(CAST(total_chars AS DOUBLE) / n_docs, 6) AS avg_chars,
           total_words, distinct_words, median_chars, p90_chars,
           round(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) AS corpus_share
    FROM w JOIN dw USING (source) JOIN med USING (source)
    ORDER BY source
    """,
    doc="Per-source corpus report card: doc/char/word totals, EXACT median "
    "and p90 (order statistics via row_number over (n_chars, doc_id) — no "
    "approximate percentile, so the oracle hash is exact), per-source "
    "vocabulary size, and corpus share. One shuffle on source for the "
    "totals + one distinct-word aggregate (two-level: per-source-word then "
    "per-source, map-side combinable) + a per-source sort window for the "
    "order statistics — all shapes that hold at 100 TB because the grain "
    "after the first aggregate is #sources, not #docs. The final share "
    "window runs over #sources rows only.",
)
def corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", "n_chars", F.expr(W_SPARK).alias("ws"))
    w = base.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.size("ws")).cast("bigint").alias("total_words"),
    )
    dw = (
        base.select("source", F.explode("ws").alias("word"))
        .groupBy("source")
        .agg(F.countDistinct("word").cast("bigint").alias("distinct_words"))
    )
    # EXACT order statistics from a VALUE HISTOGRAM, not a corpus sort: the
    # oracle's row_number form sorts every doc of a source inside ONE window
    # task — with a single dominant source that is the whole corpus through
    # one task (the exact_substring_spans failure shape). The histogram is
    # equivalent ("value at sorted position k" == "smallest value whose
    # cumulative count reaches k"), and its grain is #sources x #distinct
    # lengths — the corpus-sized work is one map-side-combined groupBy; the
    # sort window runs over the tiny histogram. Measured 416k -> 652k docs/s
    # on a 2M-doc single-source probe (the residual cost is the distinct-
    # vocabulary aggregate, which spreads on (source, word) and has no
    # single-task stage).
    hist = base.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    hwin = Window.partitionBy("source")
    h = hist.select(
        "source",
        "n_chars",
        F.sum("c")
        .over(hwin.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0))
        .alias("ccnt"),
        F.sum("c").over(hwin).alias("cnt"),
    )
    lo = F.floor((F.col("cnt") + 1) / 2.0).cast("bigint")
    hi = F.ceil((F.col("cnt") + 1) / 2.0).cast("bigint")
    p90_k = F.ceil(0.9 * F.col("cnt")).cast("bigint")
    med = h.groupBy("source").agg(
        F.round(
            (
                F.min(F.when(F.col("ccnt") >= lo, F.col("n_chars")))
                + F.min(F.when(F.col("ccnt") >= hi, F.col("n_chars")))
            ).cast("double")
            / 2.0,
            6,
        ).alias("median_chars"),
        F.min(F.when(F.col("ccnt") >= p90_k, F.col("n_chars")))
        .cast("int")
        .alias("p90_chars"),
    )
    share_win = Window.partitionBy()
    return (
        w.join(dw, "source")
        .join(med, "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.round(F.col("total_chars").cast("double") / F.col("n_docs"), 6).alias(
                "avg_chars"
            ),
            "total_words",
            "distinct_words",
            "median_chars",
            "p90_chars",
            F.round(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(share_win), 6
            ).alias("corpus_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Token-budget corpus selection
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 10_000  # tokens to fill at the fixture scale
# quality score sorts descending via an integer key: micro-quantized
# (1 - quality) in the high bits, doc_id tiebreak in the low 40. The
# packing is load-bearing (exclusive_cumsum shards by integer-div of ONE
# key), so a doc_id outside [0, 2^40) cannot be tolerated silently — both
# engines fail loudly via a guard folded INTO the skey expression (an
# expression the plan consumes, so column pruning cannot drop the check).
_SKEY_SHIFT = 1 << 40
_SKEY_GUARD_DUCK = (
    f"CASE WHEN doc_id BETWEEN 0 AND {_SKEY_SHIFT - 1} THEN 0"
    " ELSE CAST(error('select_token_budget: doc_id outside [0, 2^40)') AS BIGINT) END"
)
_SKEY_GUARD_SPARK = (
    # assert_true -> NULL on success (coalesced to 0), raises otherwise
    f"coalesce(CAST(assert_true(doc_id BETWEEN 0 AND {_SKEY_SHIFT - 1},"
    f" 'select_token_budget: doc_id outside [0, 2^40)') AS BIGINT), CAST(0 AS BIGINT))"
)


@declare(
    "select_token_budget",
    oracle=f"""
    WITH t AS (SELECT doc_id, {W_DUCK} AS ws FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT doc_id, len(ws) AS n_words,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uq,
             CAST(len(list_filter(ws, w -> w IN {STOPWORDS})) AS DOUBLE)
               / len(ws) AS sr
      FROM t WHERE len(ws) >= 1),
    s AS (
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_tokens,
             round(0.6 * uq + 0.4 * (1.0 - sr), 6) AS quality,
             CAST(floor((1.0 - round(0.6 * uq + 0.4 * (1.0 - sr), 6))
                        * 1000000.0 + 0.5) AS BIGINT) * {_SKEY_SHIFT} + doc_id
               + {_SKEY_GUARD_DUCK} AS skey
      FROM m),
    c AS (
      SELECT doc_id, quality, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY skey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS budget_used_before
      FROM s)
    SELECT doc_id, quality, n_tokens, budget_used_before
    FROM c WHERE budget_used_before < {TOKEN_BUDGET} ORDER BY doc_id
    """,
    doc=f"Token-budget corpus selection: rank every document by the "
    f"text-analysis quality score (0.6*uniq_ratio + 0.4*(1-stop_ratio)) and "
    f"greedily keep the best docs until {TOKEN_BUDGET} tokens are filled — "
    f"the 'train on the best N tokens' selection every budgeted training "
    f"run performs. The straddling doc is kept (classic greedy fill: "
    f"selected total may exceed the budget by < one doc). Ordering is an "
    f"INTEGER key (micro-quantized descending quality in the high bits, "
    f"doc_id in the low 40; a doc_id outside [0, 2^40) fails LOUDLY on both "
    f"engines — never a silent ordering corruption), so the running token "
    f"total comes from the "
    f"distributed prefix-sum (operators/prefixsum.py) — no unpartitioned "
    f"window ever sees the corpus, unlike the naive ORDER BY score cumsum. "
    f"The oracle's single-task window is the semantic spec; the Spark plan "
    f"is the scale shape. NULL-text docs are never selected.",
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefixsum import exclusive_cumsum

    d = load_table(spark, sf_dir, "documents")
    t = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.expr(W_SPARK).alias("ws")
    )
    m = t.select(
        "doc_id",
        F.expr("size(ws)").alias("n_words"),
        (F.expr("size(array_distinct(ws))").cast("double") / F.expr("size(ws)")).alias(
            "uq"
        ),
        (
            F.expr(f"size(filter(ws, w -> w IN {STOPWORDS}))").cast("double")
            / F.expr("size(ws)")
        ).alias("sr"),
    ).filter(F.col("n_words") >= 1)
    quality = F.round(0.6 * F.col("uq") + 0.4 * (1.0 - F.col("sr")), 6)
    s = m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_tokens"),
        quality.alias("quality"),
        (
            F.floor((1.0 - quality) * 1000000.0 + 0.5).cast("bigint")
            * F.lit(_SKEY_SHIFT)
            + F.col("doc_id")
            + F.expr(_SKEY_GUARD_SPARK)
        ).alias("skey"),
    )
    c = exclusive_cumsum(s, "skey", "n_tokens", out="budget_used_before")
    return (
        c.filter(F.col("budget_used_before") < TOKEN_BUDGET)
        .select("doc_id", "quality", "n_tokens", "budget_used_before")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Epoch-weighted domain mixing (oversampling)
# ---------------------------------------------------------------------------

_ECOIN_SPARK = hash60_spark("concat('emix|', CAST(doc_id AS STRING))")
_ECOIN_DUCK = hash60_duck("'emix|' || CAST(doc_id AS VARCHAR)")


@declare(
    "lang_epoch_mix",
    oracle=f"""
    WITH {_lang_rates_ctes(cap=False)},
    n AS (
      SELECT d.doc_id, d.lang, r.rate,
             CAST(floor(r.rate) AS INTEGER)
               + CASE WHEN CAST({_ECOIN_DUCK} AS DOUBLE) / {float(1 << 60)!r}
                           < r.rate - floor(r.rate) THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN r ON d.lang = r.lang)
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS epoch,
           n_copies, round(rate, 6) AS sample_rate
    FROM n WHERE n_copies >= 1
    ORDER BY doc_id, epoch
    """,
    doc="Epoch-weighted domain mixing: the UNCAPPED temperature recipe "
    "(p_l ~ count_l^0.5) — minority languages get rates > 1 and are "
    "REPEATED floor(rate) times plus one deterministic-coin extra epoch "
    "(the 'epochs per domain' mixing of modern pretraining recipes), while "
    "majority languages Bernoulli-downsample exactly like "
    "lang_temperature_sample (rate < 1 makes floor(rate) = 0 and the coin "
    "alone decides). One 1->N map-side explode after a broadcast rate join; "
    "the expanded corpus totals ~n_tot docs in expectation regardless of "
    "skew. Deterministic and engine-exact: integer-quantized sqrt ratios, "
    "identical-operand double arithmetic, md5-derived coin.",
)
def lang_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    r = lang_rates_df(d, cap=False).select("lang", "rate")
    coin = F.expr(_ECOIN_SPARK).cast("double") / F.lit(_TWO60)
    n = d.join(F.broadcast(r), "lang").select(
        "doc_id",
        "lang",
        "rate",
        (
            F.floor("rate").cast("int")
            + F.when(coin < F.col("rate") - F.floor("rate"), 1).otherwise(0)
        ).alias("n_copies"),
    )
    return (
        n.filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr("sequence(1, n_copies)")).alias("epoch"),
            "n_copies",
            F.round("rate", 6).alias("sample_rate"),
        )
        .orderBy("doc_id", "epoch")
    )
