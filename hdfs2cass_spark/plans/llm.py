"""LLM-data-pipeline declared queries: dedup, similarity search, text analysis,
multimodal plumbing (SURVEY.md §7 phase 4).

This module holds the 16 queries and their oracle SQL only. The operators
they share with the rest of the engine live with their decisions: words,
shingle and ``hash60`` expressions in functions/tokenize.py; spreading,
shingle hashes, minhash, LSH bands and Jaccard verify in operators/text.py;
cosine in functions/vec.py; IVF in operators/kmeans.py; connected components
and its DuckDB twin in operators/cc.py.

Cross-engine determinism: every hash in an oracle-checked query is md5-derived
(``hash60_spark`` == ``hash60_duck``); no engine-native hash (xxhash64 /
hash()) appears in one.

Scale design (the point of these operators at 100 TB):
  - MinHash-LSH: candidate pairs come from banded signature equality, never an
    all-pairs join (operators/text.py).
  - n-gram Jaccard: shingles with document frequency > DF_CAP are dropped
    before the pair join (a frequent-shingle join is the classic quadratic
    blowup); similarity is computed on the pruned shingle space.
  - brute-force cosine is the *baseline* (broadcastable query set x full scan);
    the LSH variants are the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scrub import scrub_cte_duck as _scrub_cte_duck
from ..functions.scrub import scrub_pii as _scrub_pii
from ..functions.tokenize import (
    STOPWORDS,
    W_DUCK,
    W_SPARK,
    WS_CHARS,
    WS_DUCK,
    WS_SPARK,
    hash60_duck,
    hash60_spark,
)
from ..functions.vec import _cosine_duck, _cosine_prenormed, norm_sql
from ..operators.buckets import bucket_pairs, capped_buckets
from ..operators.cc import CLUSTER_EDGES_FRAGMENT, connected_components
from ..operators.hyperplane import _lsh_bucket_sql, hyperplane_near_dup_pairs
from ..operators.kmeans import (
    _IVF_CENT_VALUES_DUCK,
    _IVF_CENTS,
    _IVF_DIST_DUCK,
    _NPROBE,
    fit_kmeans,
    ivf_probe_topk,
)
from ..operators.text import (
    BAND_CAND_SQL,
    BAND_CAP,
    DISTINCT_SHINGLES,
    JACCARD_COMMON_SQL,
    N_BANDS,
    N_HASHES,
    SHH_DUCK,
    _band_candidates,
    _spread_docs,
    mh_cte_fragment,
    minhash_wide_df,
    near_dup_pairs_df,
)
from ..sources.readers import load_table
from .registry import declare

SIMHASH_BITS = 32  # 16 saturated on shared-vocab docs (28k pairs at hamming<=3); 32 discriminates
DF_CAP = 50  # shingle document-frequency cap for the jaccard pair join


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@declare(
    "dedup_exact_documents",
    oracle=f"""
    SELECT 'exact' AS mode, md5(text) AS text_hash,
           COUNT(*) AS n_copies, MIN(doc_id) AS keeper
    FROM documents GROUP BY md5(text)
    UNION ALL
    SELECT 'normalized' AS mode,
           md5(regexp_replace(lower(trim(text, ' ')), '{WS_DUCK}+', ' ', 'g')) AS text_hash,
           COUNT(*) AS n_copies, MIN(doc_id) AS keeper
    FROM documents
    GROUP BY md5(regexp_replace(lower(trim(text, ' ')), '{WS_DUCK}+', ' ', 'g'))
    ORDER BY mode, text_hash
    """,
    doc="Exact dedup, raw and normalized, tagged by mode: content-hash groupBy "
    "with keeper = lowest doc_id; the normalized mode lowercases and "
    "collapses whitespace before hashing (the standard near-exact variant). "
    "At 100 TB each mode is one shuffle on a 128-bit hash — no text "
    "comparison. Absorbs the former dedup_normalized_keep_first.",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # both hash modes ride ONE scan: a 2-element inline per row feeds a
    # single (mode, text_hash) aggregate — the union-of-two-aggregates form
    # read the text column off parquet twice
    both = d.select(
        "doc_id",
        F.expr(
            f"inline(array("
            f"struct('exact' AS mode, md5(CAST(text AS BINARY)) AS text_hash), "
            f"struct('normalized' AS mode, "
            f"md5(CAST(regexp_replace(lower(trim(text)), '{WS_SPARK}+', ' ')"
            f" AS BINARY)) AS text_hash)))"
        ),
    )
    return (
        both.groupBy("mode", "text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper"))
        .orderBy("mode", "text_hash")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


# text_analysis_documents (declared below, after the language helpers) absorbs
# the former text_quality_score / lang_id_heuristic / doc_fingerprint /
# array_map_functions quartet: same table, same per-document grain, one scan.


LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "des", "et", "un"),
    "de": ("der", "die", "und", "das", "ein"),
}


def _lang_scores_sql(words_expr: str, filt: str, size_fn: str) -> dict[str, str]:
    return {
        lang: f"CAST({size_fn}({filt}({words_expr}, w -> w IN {tuple(sw)!r})) AS INTEGER)"
        for lang, sw in LANG_STOPWORDS.items()
    }


_PRED_CASE = (
    "CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en' "
    "WHEN s_es >= s_fr AND s_es >= s_de THEN 'es' "
    "WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END"
)


_FP_DUCK = """CASE WHEN text IS NULL THEN NULL
                WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
                ELSE list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list_transform(str_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 1000000007)
           END"""


# GPT-2-style pretokenizer regex (Radford et al. 2019, public knowledge),
# minus the contraction branch and the \s+(?!\S) lookahead (RE2 — DuckDB —
# has no lookahead): optionally-space-prefixed letter runs, digit runs,
# punctuation runs, plus residual whitespace. Java regex and RE2 agree on
# \p{L}/\p{N} classes but NOT on \s, so the whitespace class is the
# explicit WS_CHARS set (functions/tokenize.py). Differentially pinned on
# unicode/control-char/vertical-tab edge texts (tests/test_null_edges.py).
# A far better token-count estimate for budget math than chars/4 (which
# stays as the cheap column). Single-backslash form: used via F.lit on the
# Spark side and a plain SQL literal on the DuckDB side.
BPE_REGEX = (
    rf" ?\p{{L}}+| ?\p{{N}}+| ?[^{WS_CHARS}\p{{L}}\p{{N}}]+|[{WS_CHARS}]+"
)


@declare(
    "text_analysis_documents",
    oracle=f"""
    WITH scrub AS ({_scrub_cte_duck()}),
    scored AS (
      SELECT doc_id, lang,
             CAST(len({W_DUCK}) AS INTEGER) AS n_words,
             CAST(length(text) AS INTEGER) AS n_chars,
             CAST(ceil(length(text) / 4.0) AS INTEGER) AS approx_bpe_tokens,
             CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS INTEGER)
               AS regex_tokens,
             CAST(len(list_distinct({W_DUCK})) AS DOUBLE) / len({W_DUCK}) AS uniq_ratio,
             CAST(len(list_filter({W_DUCK}, w -> w IN {STOPWORDS})) AS DOUBLE)
               / len({W_DUCK}) AS stop_ratio,
             {_lang_scores_sql(W_DUCK, 'list_filter', 'len')['en']} AS s_en,
             {_lang_scores_sql(W_DUCK, 'list_filter', 'len')['es']} AS s_es,
             {_lang_scores_sql(W_DUCK, 'list_filter', 'len')['fr']} AS s_fr,
             {_lang_scores_sql(W_DUCK, 'list_filter', 'len')['de']} AS s_de,
             {_FP_DUCK} AS fingerprint,
             list_sort(list_distinct({W_DUCK}))[1] AS first_word,
             array_to_string(list_slice({W_DUCK}, 1, 3), ' ') AS head3,
             list_contains({W_DUCK}, 'spark') AS has_spark
      FROM documents)
    SELECT doc_id, n_words, n_chars, approx_bpe_tokens, regex_tokens,
           uniq_ratio, stop_ratio,
           round(0.6 * uniq_ratio + 0.4 * (1.0 - stop_ratio), 6) AS quality,
           s_en, s_es, s_fr, s_de,
           {_PRED_CASE} AS pred_lang,
           ({_PRED_CASE}) = lang AS matches_label,
           fingerprint, first_word, head3, has_spark,
           n_urls, n_emails, n_ips, n_phones,
           CAST(length(scrubbed) AS INTEGER) AS scrubbed_n_chars,
           {hash60_duck('scrubbed')} AS scrubbed_fp
    FROM scored JOIN scrub USING (doc_id) ORDER BY doc_id
    """,
    doc="The whole per-document text-analysis surface in ONE scan: token "
    "counting + quality scoring (whitespace tokens, chars, BPE-ish chars/4, "
    "a GPT-2-style pretokenizer regex count — letter/digit/punct runs, "
    "engine-agreeing \\p classes, "
    "vocabulary-uniqueness and stopword-density heuristic), language-ID "
    "(per-language stopword hit counts, argmax with fixed priority — a "
    "deterministic classifier, not a model), a polynomial rolling-hash "
    "fingerprint over characters (mod 1e9+7 for exact int64 arithmetic in "
    "both engines; NULL -> NULL and '' -> 0 pinned explicitly — the engines' "
    "degenerate split('') semantics differ), the array-function surface "
    "(sort/distinct/slice/contains/join over the tokenized text), and PII "
    "scrubbing (functions/scrub.py: sequential URL/email/IPv4/phone regex "
    "redaction — per-category counts plus an md5-derived digest and length "
    "of the scrubbed text, so the oracle verifies the EXACT rewrite without "
    "comparing whole strings). Replaces the former text_quality_score / "
    "lang_id_heuristic / doc_fingerprint / array_map_functions: same table, "
    "same grain — at 100 TB you want one pass computing all per-doc "
    "features, not five scans. Pure column arithmetic, trivially parallel.",
)
def text_analysis_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _scrub_pii(load_table(spark, sf_dir, "documents"))
    # materialize the words array once: lambda bodies block Catalyst CSE, so
    # inlining split() into every filter() re-tokenizes per expression
    ws = d.select(
        "doc_id",
        "lang",
        "text",
        F.expr(W_SPARK).alias("ws"),
        "n_urls",
        "n_emails",
        "n_ips",
        "n_phones",
        "scrubbed",
    )
    n_words = F.expr("size(ws)")
    n_uniq = F.expr("size(array_distinct(ws))")
    n_stop = F.expr(f"size(filter(ws, w -> w IN {STOPWORDS}))")
    uniq_ratio = n_uniq.cast("double") / n_words
    stop_ratio = n_stop.cast("double") / n_words
    fp = F.expr(
        "aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)"
    )
    fingerprint = (
        F.when(F.col("text").isNull(), F.lit(None).cast("bigint"))
        .when(F.length("text") == 0, F.lit(0).cast("bigint"))
        .otherwise(fp)
    )
    scores = _lang_scores_sql("ws", "filter", "size")
    scored = ws.select(
        "doc_id",
        "lang",
        n_words.cast("int").alias("n_words"),
        F.length("text").cast("int").alias("n_chars"),
        F.ceil(F.length("text") / 4.0).cast("int").alias("approx_bpe_tokens"),
        F.regexp_count("text", F.lit(BPE_REGEX)).cast("int").alias("regex_tokens"),
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        *[F.expr(scores[lang]).alias(f"s_{lang}") for lang in LANG_STOPWORDS],
        fingerprint.alias("fingerprint"),
        F.element_at(F.array_sort(F.array_distinct(F.col("ws"))), 1).alias("first_word"),
        F.array_join(F.slice(F.col("ws"), 1, 3), " ").alias("head3"),
        F.array_contains(F.col("ws"), "spark").alias("has_spark"),
        "n_urls",
        "n_emails",
        "n_ips",
        "n_phones",
        F.length("scrubbed").cast("int").alias("scrubbed_n_chars"),
        F.expr(hash60_spark("scrubbed")).alias("scrubbed_fp"),
    )
    pred = F.expr(_PRED_CASE)
    return scored.select(
        "doc_id",
        "n_words",
        "n_chars",
        "approx_bpe_tokens",
        "regex_tokens",
        "uniq_ratio",
        "stop_ratio",
        F.round(0.6 * F.col("uniq_ratio") + 0.4 * (1.0 - F.col("stop_ratio")), 6).alias(
            "quality"
        ),
        "s_en",
        "s_es",
        "s_fr",
        "s_de",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("matches_label"),
        "fingerprint",
        "first_word",
        "head3",
        "has_spark",
        "n_urls",
        "n_emails",
        "n_ips",
        "n_phones",
        "scrubbed_n_chars",
        "scrubbed_fp",
        # barrier-before-orderBy: map-only child (plans/present.py)
    ).repartition("doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------


@declare(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({SHH_DUCK}),
    n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    ok AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {DF_CAP}),
    rsh AS (SELECT sh.doc_id, sh.h FROM sh JOIN ok USING (h)),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b,
             round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
      FROM common
      JOIN n na ON na.doc_id = doc_a
      JOIN n nb ON nb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.2)
    SELECT p.doc_a, p.doc_b, p.jaccard,
           CAST(levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80)) AS INTEGER) AS edit80
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    ORDER BY doc_a, doc_b
    """,
    doc=f"n-gram (3-word shingle) Jaccard near-dup pairs, each surviving pair "
    f"verified with edit distance on the first 80 chars. Shingles with doc "
    f"frequency > {DF_CAP} are pruned from CANDIDATE GENERATION — the "
    f"standard guard against the quadratic frequent-shingle blowup at scale "
    f"— while the jaccard denominator uses each doc's FULL distinct-shingle "
    f"count (conservative: pruning can only lower the reported similarity). "
    f"That split is what makes the plan a SINGLE corpus pass: the full "
    f"per-doc count is row-local (size of the in-row distinct array) and "
    f"rides every exploded shingle into one aggregate on the 60-bit hash, "
    f"whose buckets expand their ordered pairs in-row carrying both counts "
    f"(the same capped in-bucket expansion the LSH path uses). No self-join, "
    f"no per-doc-count branch recomputing the corpus (lambda-bearing "
    f"subtrees never ReuseExchange; the round-3 a/b self-join planned 13 "
    f"exchanges over three corpus passes, this plans 6 over one). "
    f"levenshtein is O(len^2) per pair — affordable exactly because "
    f"candidate pairs, not all pairs, reach it, and the 80-char prefix caps "
    f"the quadratic term (the former edit_distance_verify, fused onto the "
    f"candidate set it verifies).",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # (doc_id, n_tot, h): the doc's full distinct-shingle count is computed
    # in-row and carried on every exploded shingle row. The count MUST be
    # embedded inside the generator's struct (inline(transform(shs, x ->
    # struct(x, size(shs))))): shs stays a materialized column (referenced
    # twice, so CollapseProject's cost guard refuses to inline the
    # array_distinct chain into it) and each output row carries two scalars.
    # The tempting alternatives both go quadratic per doc: size(shs) AFTER
    # the explode re-evaluates the shingle chain per exploded row, and
    # passing shs THROUGH the explode copies the whole array into every
    # output row — measured 13s vs 0.27s for this form at sf0.1.
    sh = (
        _spread_docs(d)
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .select("doc_id", F.expr(DISTINCT_SHINGLES).alias("shs"))
        .select("doc_id", F.expr("inline(transform(shs, x -> struct(x AS s, size(shs) AS n_tot)))"))
        .select("doc_id", "n_tot", F.expr(hash60_spark("s")).alias("h"))
    )
    # capped_buckets: the df gate runs BEFORE collect_list, so a boilerplate
    # shingle shared by millions of docs never materializes an unbounded
    # aggregation buffer (it costs one spilled streaming count, then drops)
    buckets = capped_buckets(
        sh, ["h"], F.struct("doc_id", "n_tot"), out="ms", cap=DF_CAP
    )
    pairs = bucket_pairs(
        "ms", "x.doc_id AS doc_a, y.doc_id AS doc_b, x.n_tot AS na, y.n_tot AS nb"
    )
    common = (
        buckets.select(F.explode(pairs).alias("p"))
        # two DISTINCT shingles of one doc can collide to the same 60-bit
        # hash (~n^2/2^61), putting the doc in the bucket twice — the sorted
        # expansion would then emit a self-pair the oracle's a.doc_id <
        # b.doc_id join excludes
        .filter(F.col("p.doc_a") != F.col("p.doc_b"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("p.na").alias("na"),
            F.first("p.nb").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    pairs = common.filter(jac >= 0.2).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.substring("text", 1, 80).alias("ta"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.substring("text", 1, 80).alias("tb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.levenshtein("ta", "tb").cast("int").alias("edit80"),
        )
        .orderBy("doc_a", "doc_b")
    )


_MH_CTE = "\n    WITH " + mh_cte_fragment()


@declare(
    "minhash_lsh_pairs",
    oracle=_MH_CTE
    + f""",
{BAND_CAND_SQL}
    SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b
    """,
    doc=f"MinHash-LSH candidate pairs: {N_BANDS} bands x {N_HASHES // N_BANDS} rows; docs "
    "sharing any full band signature become candidates. The scale path for "
    "near-dup at 100 TB: one shuffle on band keys, in-bucket pair expansion "
    f"capped at {BAND_CAP} docs per bucket — never an all-pairs join.",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = minhash_wide_df(load_table(spark, sf_dir, "documents"))
    return _band_candidates(wide).orderBy("doc_a", "doc_b")


_SIMHASH_SUMS_DUCK = ",\n             ".join(
    f"SUM(CASE WHEN (wh >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
)


def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit): per-bit majority vote over word hashes (all
    occurrences). Near-dups differ in few bits. Oracle-verified transitively
    through simhash_near_dup_pairs, which carries these fingerprints."""
    d = load_table(spark, sf_dir, "documents")
    wd = _spread_docs(d).select("doc_id", F.explode(F.expr(W_SPARK)).alias("w")).select(
        "doc_id", F.expr(hash60_spark("w")).alias("wh")
    )
    sums = [
        F.sum(
            F.when(F.expr(f"(shiftright(wh, {j}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = wd.groupBy("doc_id").agg(*sums)
    return bits.select("doc_id", F.expr(_SIMHASH_VAL).cast("bigint").alias("simhash")).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

# Shared HOF vector math: functions/vec.py (see its docstring for why the
# unrolled-codegen alternative loses under composition).


@declare(
    "embedding_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    sims AS (
      SELECT q_id, vec_id,
             round({_cosine_duck('qe', 'embedding')}, 6) AS sim
      FROM q CROSS JOIN embeddings
      WHERE vec_id <> q_id AND {_cosine_duck('qe', 'embedding')} IS NOT NULL),
    ranked AS (
      SELECT q_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM sims)
    SELECT q_id, vec_id, sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk
    """,
    doc="Brute-force cosine top-k (the correctness baseline for ANN): "
    "broadcast 5 query vectors against the full scan, similarities computed "
    "JVM-side, rank via row_number — which Catalyst rewrites to "
    "WindowGroupLimit with a PARTIAL pass BEFORE the exchange (per-partition "
    "top-k map-side, plan-asserted). No stage funnels the whole corpus's "
    "similarities into one task and no Python hop is needed: the round-1 "
    "global-window concern is solved by the optimizer's group-limit pushdown. "
    "BASELINE ONLY — cost is O(queries x corpus); at scale reach for the "
    "cell-pruned twins embedding_ivf_topk / embedding_ivf_learned_topk "
    "(fitted or fixture centroids, >60% of the corpus pruned, recall bound "
    "asserted in tests/test_kmeans.py).",
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.expr(norm_sql("embedding")).alias("_qn"),
    )
    corpus = e.select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("_en")
    )
    pairs = F.broadcast(q).crossJoin(corpus).filter(F.col("vec_id") != F.col("q_id"))
    sim = F.round(_cosine_prenormed("qe", "embedding", "_qn", "_en"), 6)
    sims = pairs.select("q_id", "vec_id", sim.alias("sim")).filter(
        F.col("sim").isNotNull()
    )
    ranked = sims.withColumn(
        "rnk",
        F.row_number().over(Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")),
    )
    return ranked.filter(F.col("rnk") <= 5).select(
        "q_id", "vec_id", "sim", F.col("rnk").cast("int").alias("rnk")
    ).orderBy("q_id", "rnk")


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@declare(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(ceil(octet_length(encode(text)) / 256.0) AS INTEGER) AS n_chunks,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_key
    FROM documents ORDER BY doc_id
    """,
    doc="Multimodal column plumbing: opaque binary payload (here: encoded "
    "text standing in for image/audio bytes) + typed metadata. Decode lives "
    "in operators/multimodal.py.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.octet_length(blob).cast("bigint").alias("byte_len"),
        F.ceil(F.octet_length(blob) / 256.0).cast("int").alias("n_chunks"),
        F.expr(hash60_spark("text")).alias("content_key"),
        # barrier-before-orderBy: map-only child (plans/present.py)
    ).repartition("doc_id").orderBy("doc_id")


_NEAR_DUP_ORACLE = f"""{_MH_CTE},
{BAND_CAND_SQL},
{JACCARD_COMMON_SQL}
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.5
    ORDER BY doc_a, doc_b
"""


@declare(
    "dedup_near_duplicates",
    oracle=_NEAR_DUP_ORACLE,
    doc="The full near-dup dedup pipeline: MinHash-LSH candidate generation "
    "(capped band buckets, in-bucket expansion) -> exact Jaccard verification "
    "on the candidates only, via array_intersect of the per-doc shingle sets "
    "(no shingle-level explode join) -> verified pairs with jaccard >= 0.5. "
    "This is the 100 TB dedup shape: cost scales with candidates, not docs^2, "
    "and nothing is persisted — the shingle-set computation is shuffle-free "
    "and recomputed per use.",
)
def dedup_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs_df(load_table(spark, sf_dir, "documents"))


@declare(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST({_lsh_bucket_sql("embedding[{i}]")} AS BIGINT) AS bucket
      FROM embeddings),
    okb AS (
      SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND {BAND_CAP})
    SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
           round({_cosine_duck('a.embedding', 'b2.embedding')}, 6) AS sim
    FROM b a
    JOIN okb ON okb.bucket = a.bucket
    JOIN b b2 ON b2.bucket = a.bucket AND a.vec_id < b2.vec_id
    WHERE {_cosine_duck('a.embedding', 'b2.embedding')} >= 0.3
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding near-dup pairs, LSH-scoped: cosine is evaluated only for "
    "pairs sharing a hyperplane bucket, candidates expanded IN-BUCKET with "
    f"the same cap-and-drop guard as the minhash bands (cap {BAND_CAP} — a "
    "degenerate identical-direction corpus can no longer go quadratic; "
    "operators/hyperplane.py also scales the plane count with corpus size "
    "and multiprobes for recall — the 100 TB path). Fixed 8 planes here so "
    "the DuckDB twin evaluates identical literal arithmetic. Threshold 0.3 "
    "on synthetic random vectors (max pairwise sim ~0.51).",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = hyperplane_near_dup_pairs(e, threshold=0.3, n_planes=8, cap=BAND_CAP)
    return pairs.select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        F.round("sim", 6).alias("sim"),
    ).orderBy("vec_a", "vec_b")


@declare(
    "embedding_ivf_topk",
    oracle=f"""
    WITH cent(cell, cv) AS (VALUES
      {_IVF_CENT_VALUES_DUCK}),
    vdist AS (
      SELECT vec_id, cell, {_IVF_DIST_DUCK.format(vec='embedding')} AS dist
      FROM embeddings CROSS JOIN cent CROSS JOIN generate_series(1, 64) AS t(i)
      GROUP BY vec_id, cell),
    vcell AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS cr
        FROM vdist) t WHERE cr = 1),
    q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    qcells AS (
      SELECT q_id, cell FROM (
        SELECT v.vec_id AS q_id, v.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY v.dist, v.cell) AS cr
        FROM vdist v WHERE v.vec_id < 5) t WHERE cr <= {_NPROBE}),
    sims AS (
      SELECT c.q_id, e.vec_id,
             round({_cosine_duck('q.qe', 'e.embedding')}, 6) AS sim
      FROM qcells c
      JOIN vcell vc ON vc.cell = c.cell
      JOIN embeddings e ON e.vec_id = vc.vec_id
      JOIN q ON q.q_id = c.q_id
      WHERE e.vec_id <> c.q_id
        AND {_cosine_duck('q.qe', 'e.embedding')} IS NOT NULL)
    SELECT q_id, vec_id, sim, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT q_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM sims) t
    WHERE rnk <= 3 ORDER BY q_id, rnk
    """,
    doc="IVF ANN with a LEARNED coarse quantizer: cells come from the "
    "committed k-means model (operators/kmeans.py fit offline by "
    "scripts/gen_ivf_fixture.py — the real index-build step), inlined as "
    "literals in both engines. Corpus vectors assign to their nearest cell "
    "(quantized-int64 L2, engine-exact ties on cell id); queries probe "
    f"nprobe={_NPROBE} nearest cells; exact cosine only within probed cells. "
    "The model is k x dims literals folded into the plan — scan cost per "
    "query drops to the probed cells' share of the data.",
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_probe_topk(e, _IVF_CENTS)


@declare(
    "embedding_ivf_learned_topk",
    oracle=None,  # the quantizer is FIT at call time (iterative Lloyd's — not SQL-expressible); the fixture-model twin embedding_ivf_topk is the oracle-checked one
    doc="IVF ANN with the quantizer LEARNED in the query itself: "
    "operators/kmeans.fit_kmeans (farthest-point init, Lloyd's rounds, "
    "driver sees only k x dims model scalars) -> Arrow-batched cell "
    "assignment -> nprobe probe — the full index-build + search loop the "
    "fixture-model twin (embedding_ivf_topk) freezes for oracle "
    "determinism. Deterministic end-to-end (hash-sample + lowest-id "
    "tiebreaks), so re-runs return identical rows; recall vs brute force "
    "is bounded in tests/test_kmeans.py on a planted clustered corpus.",
)
def embedding_ivf_learned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = fit_kmeans(e, k=8, iters=4, init="spread")
    # nprobe=3 of 8 cells: Lloyd's routinely splits a natural cluster across
    # fitted cells, so a query's true neighbors can sit in its 3rd-nearest
    # cell; 3/8 probed holds recall >= 0.9 on the clustered test corpus
    # while still skipping >60% of the data per query
    return ivf_probe_topk(e, cents, nprobe=3)


@declare(
    "minhash_lsh_pairs_fast",
    oracle=None,  # engine-native xxhash64 by design — the md5 twin (minhash_lsh_pairs) is the oracle-checked one
    doc="Production MinHash-LSH: identical pipeline to minhash_lsh_pairs but "
    "hashed with JVM-native xxhash64 (no md5+hex round-trip) — the variant "
    "you run at 100 TB. Kept alongside the md5 twin so the algorithm is "
    "oracle-verified while the fast path stays benchmarked.",
)
def minhash_lsh_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = minhash_wide_df(load_table(spark, sf_dir, "documents"), fast=True)
    return _band_candidates(wide).orderBy("doc_a", "doc_b")


@declare(
    "text_embed_near_dup_pairs",
    oracle=None,  # the featurizer is xxhash64-based by design (operators/embed.py) — its geometry and LSH recall are test-asserted, and the shingle-based near-dup family carries the oracle checks
    doc="The text -> embedding -> ANN loop as one query: documents are "
    "feature-hash embedded (operators/embed.py — vocabulary-free signed "
    "bucket histograms, one codegen'd aggregation) and near-dup pairs come "
    "from hyperplane-LSH over the resulting vectors (capped buckets, "
    "Hamming-1 multiprobe). The embedding-space twin of the shingle-based "
    "dedup family: catches near-dups that token-level minhash misses when "
    "wording shifts but the word DISTRIBUTION doesn't, at the cost of an "
    "embedding pass — both run from the same raw text at 100 TB.",
)
def text_embed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.embed import embed_texts

    d = load_table(spark, sf_dir, "documents")
    emb = embed_texts(_spread_docs(d), dims=64).withColumnRenamed("doc_id", "vec_id")
    # 0.95: on the fixture corpus (small shared vocabulary, so hashed-BoW
    # cosine runs high between unrelated docs) this keeps the 20-odd
    # genuinely near-identical pairs and drops the vocabulary-overlap noise
    # (0.8 admits ~4% of ALL pairs there; real corpora separate much harder)
    pairs = hyperplane_near_dup_pairs(
        emb, threshold=0.95, id_col="vec_id", n_planes=8, multiprobe=1, cap=BAND_CAP
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("sim", 6).alias("cosine"),
    ).orderBy("doc_a", "doc_b")


_CLUSTERS_ORACLE = (
    "    WITH RECURSIVE"
    + _MH_CTE.split("WITH", 1)[1]
    + ","
    + CLUSTER_EDGES_FRAGMENT
    + """
    SELECT src AS doc_id, MIN(dst) AS keeper
    FROM reach GROUP BY src ORDER BY doc_id
    """
)


@declare(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Near-dup clusters: LSH+Jaccard-verified pairs -> connected components "
    "(iterative label propagation, loud failure on non-convergence) -> "
    "(doc_id, cluster keeper = min doc_id). The final step of the dedup "
    "pipeline: keep one doc per cluster, drop the rest. Driver sees only a "
    "scalar per round; data stays distributed. Oracle: the same verified "
    "pair SQL closed transitively with a RECURSIVE CTE.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_near_duplicates(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("keeper")
    ).orderBy("doc_id")


_SIMHASH_CTE = f"""
    WITH wd AS (
      SELECT doc_id, {hash60_duck('w')} AS wh FROM (
        SELECT doc_id, unnest({W_DUCK}) AS w FROM documents) t),
    bits AS (
      SELECT doc_id,
             {_SIMHASH_SUMS_DUCK}
      FROM wd GROUP BY doc_id),
    sh AS (
      SELECT doc_id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash FROM bits)
"""


@declare(
    "simhash_near_dup_pairs",
    oracle=_SIMHASH_CTE + f""",
    bands AS (
      SELECT doc_id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS bval
      FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b),
    okb AS (
      SELECT band, bval FROM bands
      GROUP BY band, bval HAVING COUNT(*) BETWEEN 2 AND {BAND_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             a.simhash AS sh_a, b2.simhash AS sh_b
      FROM bands a
      JOIN okb ON okb.band = a.band AND okb.bval = a.bval
      JOIN bands b2
        ON a.band = b2.band AND a.bval = b2.bval AND a.doc_id < b2.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    ORDER BY doc_a, doc_b
    """,
    doc="SimHash near-dup pairs via Hamming-LSH: 32-bit simhash split into 4 "
    "bands of 8 bits; docs sharing any band value become candidates (any "
    "pair within Hamming distance 3 must share a band — pigeonhole); verify "
    "with bit_count(xor). Fingerprints ride through the bucket grouping so "
    "the fingerprint computation runs ONCE with no persist; bucket size is "
    f"capped at {BAND_CAP}. No all-pairs comparison anywhere.",
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = simhash_fingerprint(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).withColumn("bval", F.expr("(simhash >> (band * 8)) & 255"))
    # in-bucket pair expansion with the fingerprint as payload: one pass over
    # the fingerprints, no self-join, no persist; capped_buckets gates bucket
    # size before the collect so a degenerate band value never materializes
    # an unbounded aggregation buffer
    buckets = capped_buckets(
        bands, ["band", "bval"], F.struct("doc_id", "simhash"), out="ms", cap=BAND_CAP
    )
    pairs = bucket_pairs(
        "ms", "x.doc_id AS doc_a, y.doc_id AS doc_b, x.simhash AS sh_a, y.simhash AS sh_b"
    )
    cand = (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.sh_a", "p.sh_b")
        .distinct()
    )
    hamming = F.expr("bit_count(sh_a ^ sh_b)")
    return (
        cand.filter(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


@declare(
    "corpus_select_split",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text,
             CAST(len({W_DUCK}) AS INTEGER) AS n_tokens,
             round(0.6 * (CAST(len(list_distinct({W_DUCK})) AS DOUBLE) / len({W_DUCK}))
                 + 0.4 * (1.0 - CAST(len(list_filter({W_DUCK}, w -> w IN {STOPWORDS})) AS DOUBLE)
                                / len({W_DUCK})), 6) AS quality
      FROM documents),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
    SELECT q.doc_id, q.n_tokens, q.quality,
           CASE WHEN ('0x' || substr(md5('split:' || CAST(q.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM q
    JOIN keepers k ON k.doc_id = q.doc_id
    WHERE q.quality >= 0.55
    ORDER BY q.doc_id
    """,
    doc="Capstone training-corpus selection: exact-dedup keepers ∩ quality "
    "filter, then the deterministic hash-based 80/20 train/test split "
    "assigned as a column — membership is a pure function of the id (stable "
    "across runs, machines and engine versions, no sampling state; the "
    "former train_test_split operator). One declarative pipeline — the shape "
    "of a production pretraining-data job (each stage is a pushed-down "
    "filter or a hash groupBy; nothing quadratic, nothing driver-side).",
)
def corpus_select_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_words = F.expr(f"size({W_SPARK})")
    n_uniq = F.expr(f"size(array_distinct({W_SPARK}))")
    n_stop = F.expr(f"size(filter({W_SPARK}, w -> w IN {STOPWORDS}))")
    quality = F.round(
        0.6 * (n_uniq.cast("double") / n_words) + 0.4 * (1.0 - n_stop.cast("double") / n_words),
        6,
    )
    scored = d.select("doc_id", n_words.cast("int").alias("n_tokens"), quality.alias("quality"))
    keepers = d.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    split_hash = F.expr(
        "CAST(conv(substr(md5(CAST(concat('split:', CAST(doc_id AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        scored.join(keepers, "doc_id")
        .filter(F.col("quality") >= 0.55)
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            F.when(split_hash % 100 < 80, "train").otherwise("test").alias("split"),
        )
        .orderBy("doc_id")
    )


@declare(
    "tfidf_top_terms",
    oracle=f"""
    WITH wd AS (
      SELECT doc_id, unnest({W_DUCK}) AS w FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM wd GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM wd GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
    SELECT doc_id, w, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT doc_id, w, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rnk
      FROM scored) t
    WHERE rnk <= 3 ORDER BY doc_id, rnk
    """,
    doc="TF-IDF top-3 terms per document: term frequency x ln(N/df). The df "
    "table is vocabulary-sized (tiny, broadcastable); the tf explode is the "
    "only big intermediate and carries no text, just (doc, word, count).",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wd = _spread_docs(d).select("doc_id", F.explode(F.expr(W_SPARK)).alias("w"))
    tf = wd.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    # n_docs as a broadcast scalar relation, not a driver-side d.count() —
    # no job runs at plan-construction time; the count folds into the DAG
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # document frequency as a window count over the tf table (tf rows are
    # unique per (doc, w), so count-per-w == docs containing w): ONE corpus
    # pass. The former separate dfreq aggregate recomputed the explode
    # subtree (two corpus passes; nothing ReuseExchanges under lambdas) and
    # BROADCAST the vocabulary — which is Zipf-tailed and corpus-scaled, so
    # that broadcast dies at 100 TB where this window just shuffles on w.
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("w")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "w")
            ),
        )
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "w", "tfidf", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("doc_id", "rnk")
    )


# Edit-distance verification on candidate pairs lives in ngram_jaccard_pairs
# (edit80 column): the operator point — levenshtein only ever runs on a
# candidate set, never all pairs — is identical there.
