"""Word-granular exact-substring duplicate spans (oracle row 83).

The r8 verdict's finer-grain dedup item: ``exact_substring_spans`` reports
per-doc WINDOW statistics (counts/fraction/longest run of duplicated
8-word windows); this query emits the actual MAXIMAL DUPLICATED WORD
SPANS with exact boundaries — the intervals a scrubber would cut
(Lee et al. 2022 suffix-array substring dedup, at rolling-hash window
granularity). A duplicated window at position p covers words
[p, p+K-1]; the duplicated-word set of a doc is the union of those
intervals, and this query merges them into maximal spans with exact
word-boundary trim, verified cross-engine by an md5 digest of each
span's exact text.

Interval merge WITHOUT a quadratic stage: window ends are monotone in
window starts (every interval has the same length K), so the classic
cumulative-max island test degenerates to a LAG — a new span starts
exactly when ``pos > prev_pos + K`` (gap of at least one uncovered word;
adjacent/overlapping windows merge). One doc_id-partitioned window pass
(LAG + running SUM ride the same sort), then a per-(doc, island)
aggregate.

100 TB shape: the gram table and dup-flag aggregate are SHARED with
exact_substring_spans (plans/pipeline.py substring_gram_positions /
substring_dup_flags — map-side-combined groupBy(h), AQE-splittable
join-back, no broadcast that scales with the corpus). The island window
partitions by doc_id — doc-length-bounded, never corpus-bounded. The
final content-digest join re-scans documents once (map-only) and
shuffles only (doc_id, ws) against the much smaller span table; spans
scale with the corpus so neither side broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.tokenize import W_DUCK, W_SPARK, hash60_duck, hash60_spark
from ..sources import load_table
from .pipeline import (
    _BENCH_DUCK,
    _BENCH_SPARK,
    SUBSTR_K,
    substring_dup_flags,
    substring_gram_positions,
)
from .registry import declare

_POS_DUCK = f"""
    w AS (SELECT doc_id, {W_DUCK} AS ws FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - {SUBSTR_K - 1}), i ->
               {{'pos': i, 'h': {hash60_duck(f"array_to_string(list_slice(ws, i, i + {SUBSTR_K - 1}), ' ')")}}})) AS u
      FROM w WHERE len(ws) >= {SUBSTR_K}
    ),
    pos AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g),
    dupset AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY h)
      WHERE df >= 2
    )"""


def merge_window_spans(dup: DataFrame) -> DataFrame:
    """(doc_id, s, e) maximal covered word intervals from (doc_id, pos)
    duplicated window positions — the LAG gaps-and-islands merge (module
    docstring), shared by the span REPORT above and the scrub ACTION
    below so the two can never disagree on boundaries."""
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn(
        "newisl",
        F.coalesce(
            (F.col("pos") > F.lag("pos").over(wnd) + SUBSTR_K).cast("int"),
            F.lit(1),
        ),
    ).withColumn("isl", F.sum("newisl").over(wnd))
    return isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(SUBSTR_K - 1)).alias("e"),
    )



@declare(
    "exact_substring_word_spans",
    oracle=f"""
    WITH {_POS_DUCK},
    dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN dupset d USING (h)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                      -{SUBSTR_K}) + {SUBSTR_K}
                  THEN 1 ELSE 0 END AS newisl
      FROM dup),
    grp AS (
      SELECT doc_id, pos,
             SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM isl),
    sp AS (
      SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + {SUBSTR_K - 1} AS e
      FROM grp GROUP BY doc_id, isl)
    SELECT sp.doc_id,
           CAST(s AS BIGINT) AS span_start,
           CAST(e - s + 1 AS BIGINT) AS span_n_words,
           {hash60_duck("array_to_string(list_slice(ws, s, e), ' ')")} AS span_fp
    FROM sp JOIN w ON sp.doc_id = w.doc_id
    ORDER BY sp.doc_id, span_start
    """,
    doc=f"Maximal duplicated word spans with exact boundary trim (the "
    f"span-granular tightening of exact_substring_spans): every "
    f"{SUBSTR_K}-word window whose gram occurs in >= 2 docs covers words "
    f"[pos, pos+{SUBSTR_K - 1}]; overlapping/adjacent covered intervals "
    f"merge into maximal spans — (doc_id, span_start word index 1-based, "
    f"span_n_words, md5 digest of the span's exact text, so the oracle "
    f"verifies the precise word boundaries cross-engine). Interval merge "
    f"is a LAG gaps-and-islands (ends are monotone in starts at fixed K) — "
    f"one doc-bounded window pass, no quadratic stage; gram table and "
    f"dup-flag marking shared with exact_substring_spans (same skew-safe "
    f"shape: map-side-combined groupBy(h), AQE-splittable join-back).",
)
def exact_substring_word_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pos = substring_gram_positions(d)
    dup = (
        pos.join(substring_dup_flags(pos), "h")
        .filter(F.col("isdup"))
        .select("doc_id", "pos")
    )
    sp = merge_window_spans(dup)
    w = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
    )
    return (
        sp.join(w, "doc_id")
        .select(
            "doc_id",
            F.col("s").cast("long").alias("span_start"),
            (F.col("e") - F.col("s") + 1).cast("long").alias("span_n_words"),
            F.expr(
                hash60_spark("concat_ws(' ', slice(ws, s, e - s + 1))")
            ).alias("span_fp"),
        )
        .orderBy("doc_id", "span_start")
    )


# the DuckDB twin of merge_window_spans over a `dup(doc_id, pos)` CTE:
# LAG islands -> running sum -> per-island min/max (identical arithmetic)
_SPANS_DUCK = f"""
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                      -{SUBSTR_K}) + {SUBSTR_K}
                  THEN 1 ELSE 0 END AS newisl
      FROM dup),
    grp AS (
      SELECT doc_id, pos,
             SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM isl),
    sp AS (
      SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + {SUBSTR_K - 1} AS e
      FROM grp GROUP BY doc_id, isl)"""


@declare(
    "exact_substring_scrub",
    oracle=f"""
    WITH {_POS_DUCK},
    first AS (SELECT h, MIN(doc_id) AS first_doc FROM pos GROUP BY h),
    dup AS (
      SELECT p.doc_id, p.pos FROM pos p JOIN first f USING (h)
      WHERE p.doc_id > f.first_doc),
    {_SPANS_DUCK},
    spl AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
      FROM sp GROUP BY doc_id),
    wall AS (
      SELECT doc_id, {W_DUCK} AS ws FROM documents
      WHERE text IS NOT NULL AND len({W_DUCK}) >= 1),
    scrubbed AS (
      SELECT w.doc_id, len(ws) AS n_words,
             CASE WHEN spans IS NULL THEN ws ELSE
               list_filter(
                 list_transform(generate_series(1, len(ws)), i ->
                   CASE WHEN len(list_filter(spans,
                          sp -> i >= sp.s AND i <= sp.e)) > 0
                        THEN NULL ELSE ws[i] END),
                 x -> x IS NOT NULL)
             END AS kept
      FROM wall w LEFT JOIN spl USING (doc_id))
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_words - len(kept) AS BIGINT) AS n_scrubbed,
           {hash60_duck("coalesce(array_to_string(kept, ' '), '')")} AS scrubbed_fp
    FROM scrubbed ORDER BY doc_id
    """,
    doc=f"Keep-first-occurrence exact-substring DEDUP — the scrub ACTION the "
    f"span report feeds (Lee et al. 2022 semantics at window granularity): "
    f"a {SUBSTR_K}-word window is scrubbed from a doc iff the same gram "
    f"occurs in an EARLIER doc (min doc_id keeps its copy intact — the "
    f"engine's keeper-is-min convention; intra-doc repeats are NOT "
    f"scrubbed). Covered windows merge into maximal spans (the shared LAG "
    f"islands), then each doc's kept text is rebuilt by an index-aware "
    f"array filter — (doc_id, n_words, n_scrubbed, md5 digest of the "
    f"scrubbed text), so the oracle verifies the exact post-scrub CONTENT "
    f"cross-engine. Scale shape: shared skew-safe gram table, one "
    f"map-side-combined min-per-gram aggregate, doc-bounded islands "
    f"window, per-doc span-list aggregate, one doc_id join, then a "
    f"MAP-ONLY higher-order-function rewrite — no word-grain explode, no "
    f"shuffle carries text except the final doc_id join.",
)
def exact_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pos = substring_gram_positions(d)
    first = pos.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return scrub_against_first(d, pos, first).orderBy("doc_id")


def scrub_against_first(d: DataFrame, pos: DataFrame, first: DataFrame) -> DataFrame:
    """The scrub tail over a document frame ``d``, its gram-position table
    ``pos`` (substring_gram_positions), and a (h, first_doc) first-holder
    table: scrub every window whose gram is held by an earlier doc, merge
    spans, rebuild kept text. ONE definition shared by the batch query
    above and the streaming twin (streaming/scrub.py, where ``first``
    comes from the accumulating gram index) — the two surfaces cannot
    drift."""
    dup = (
        pos.join(first, "h")
        .filter(F.col("doc_id") > F.col("first_doc"))
        .select("doc_id", "pos")
    )
    spl = merge_window_spans(dup).groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("spans")
    )
    w = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .filter(F.size("ws") >= 1)
    )
    # index-aware rewrite: Spark's filter lambda index is 0-based, the span
    # bounds are 1-based word positions
    kept = (
        "CASE WHEN spans IS NULL THEN ws ELSE "
        "filter(ws, (x, i) -> NOT exists(spans, "
        "sp -> i + 1 >= sp.s AND i + 1 <= sp.e)) END"
    )
    return (
        w.join(spl, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            F.expr(kept).alias("_kept"),
        )
        .select(
            "doc_id",
            "n_words",
            (F.col("n_words") - F.size("_kept")).cast("long").alias("n_scrubbed"),
            F.expr(hash60_spark("concat_ws(' ', _kept)")).alias("scrubbed_fp"),
        )
    )


@declare(
    "decontamination_scrub",
    oracle=f"""
    WITH {_POS_DUCK},
    bgr AS (SELECT DISTINCT h FROM pos WHERE {_BENCH_DUCK}),
    dup AS (
      SELECT p.doc_id, p.pos FROM pos p JOIN bgr USING (h)
      WHERE NOT ({_BENCH_DUCK})),
    {_SPANS_DUCK},
    spl AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
      FROM sp GROUP BY doc_id),
    wall AS (
      SELECT doc_id, {W_DUCK} AS ws FROM documents
      WHERE NOT ({_BENCH_DUCK}) AND text IS NOT NULL AND len({W_DUCK}) >= 1),
    scrubbed AS (
      SELECT w.doc_id, len(ws) AS n_words,
             CASE WHEN spans IS NULL THEN ws ELSE
               list_filter(
                 list_transform(generate_series(1, len(ws)), i ->
                   CASE WHEN len(list_filter(spans,
                          sp -> i >= sp.s AND i <= sp.e)) > 0
                        THEN NULL ELSE ws[i] END),
                 x -> x IS NOT NULL)
             END AS kept
      FROM wall w LEFT JOIN spl USING (doc_id))
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_words - len(kept) AS BIGINT) AS n_scrubbed,
           {hash60_duck("coalesce(array_to_string(kept, ' '), '')")} AS scrubbed_fp
    FROM scrubbed ORDER BY doc_id
    """,
    doc=f"Decontamination by SPAN SCRUB — the salvage variant of benchmark "
    f"decontamination: instead of dropping a contaminated training doc "
    f"(decontamination_overlap / bloom_decontamination decide doc-level), "
    f"remove exactly the {SUBSTR_K}-word windows whose gram hash appears "
    f"anywhere in the benchmark split, keep the rest of the doc. Reuses "
    f"the exact-substring machinery end to end: the shared skew-safe gram "
    f"table, the benchmark gram set as the 'first holder' with a sentinel "
    f"-1 doc (every train window whose gram is benchmark-held scrubs), "
    f"LAG-island span merge, map-only HOF rewrite, md5 digest of the "
    f"post-scrub content so the oracle verifies the exact rewritten text. "
    f"Scale: the benchmark gram set is tiny next to the corpus and is "
    f"BROADCAST; the corpus gram table is never shuffled against itself "
    f"(no df aggregate needed — membership only), so this is strictly "
    f"cheaper than exact_substring_scrub at the same corpus size.",
)
def decontamination_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.expr(_BENCH_SPARK)
    train = d.filter(~is_bench)
    bench = d.filter(is_bench)
    pos = substring_gram_positions(train)
    bgr = (
        substring_gram_positions(bench)
        .select("h")
        .distinct()
        .withColumn("first_doc", F.lit(-1).cast("long"))
    )
    return scrub_against_first(train, pos, F.broadcast(bgr)).orderBy("doc_id")
