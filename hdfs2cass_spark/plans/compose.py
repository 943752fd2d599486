"""Composed corpus curation: the training-data stages chained end to end.

The individual catalog queries prove each stage against its oracle; this
module proves they COMPOSE the way a production curation pipeline runs them —
quality filter -> exact-dedup keep-first -> near-dup cluster dedup ->
decontamination gate -> sequence packing — as a single DataFrame-valued
function. At 100 TB that composition is the difference between one pipeline
and five jobs with four intermediate datasets.

Stage order is the canonical one (cheapest-first, so each shuffle sees fewer
rows): the quality filter is a map-side predicate, keep-first dedup shuffles
the survivors once on the text hash, near-dup dedup generates LSH candidates
over what remains and closes them into clusters, the decontamination gate
aggregates shingle stats for the remaining docs against the broadcast
benchmark set, and packing lays the final corpus on the token axis with the
distributed prefix-sum. Two stages are necessarily not lazy (see the
curate_corpus docstring): connected components iterates (eager
localCheckpoint per round) and the prefix-sum runs one tiny count job per
level — data rows never reach the driver in either. Tested against a DuckDB
oracle chain in tests/test_compose.py and hash-verified by the driver's
correctness gate (the declared `curate_corpus` query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.tokenize import SH_DUCK, W_DUCK, W_SPARK, hash60_duck
from ..operators.cc import CLUSTER_EDGES_FRAGMENT, connected_components
from ..operators.ckpt import materialize
from ..operators.text import mh_cte_fragment, near_dup_pairs_df, shingle_hashes
from ..sources import load_table
from .pipeline import _BENCH_DUCK, _BENCH_SPARK, PACK_BUDGET, PACK_SHARD_DOCS
from .registry import declare

# quality gate: droppable junk a crawl always contains — too-short docs and
# boilerplate-heavy docs with almost no unique words
MIN_WORDS = 5
MIN_UNIQ_RATIO = 0.3
# decontamination gate: drop docs sharing more than this fraction of their
# distinct shingles with the benchmark set
MAX_CONTAM_FRAC = 0.5

# The DuckDB oracle CHAIN — each stage the verbatim oracle pattern of its
# standalone query (quality predicate, keep-first window, minhash-band +
# jaccard-verify + recursive-closure clusters from dedup_clusters, SHH_DUCK
# shingle hashing, decontam HAVING, pack prefix-sum), composed in the same
# order the Spark plan composes. The minhash/cluster CTEs (`sh`, `m`, bands,
# ..., `reach`) run over `dd` (the exact-dedup survivors); the decontam
# shingle table is `dsh` to avoid colliding with the minhash `sh`. Final SUMs
# cast to BIGINT (DuckDB promotes SUM(BIGINT) to INT128, which the driver's
# hasher serializes differently).
# CTE chain shared by the curate_corpus oracle (packing tail) and the
# curation_funnel oracle (per-stage counts) — identical stage definitions.
CTE_CHAIN = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, text, {W_DUCK} AS ws FROM documents
  WHERE NOT ({_BENCH_DUCK})),
q AS (
  SELECT doc_id, text, ws FROM base
  WHERE len(ws) >= {MIN_WORDS}
    AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= {MIN_UNIQ_RATIO}),
dd AS (
  SELECT doc_id, text, ws FROM (
    SELECT doc_id, text, ws,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM q) t
  WHERE rn = 1),
{mh_cte_fragment("dd")},{CLUSTER_EDGES_FRAGMENT},
comp AS (
  SELECT src AS doc_id, MIN(dst) AS keeper FROM reach GROUP BY src),
nd AS (
  SELECT dd.doc_id, dd.ws FROM dd LEFT JOIN comp ON comp.doc_id = dd.doc_id
  WHERE comp.keeper IS NULL OR comp.keeper = dd.doc_id),
dsh AS (
  SELECT doc_id, {hash60_duck("s")} AS h FROM (
    SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id, unnest(
        CASE WHEN len(ws) >= 3 THEN
        list_transform(generate_series(1, len(ws) - 2), i ->
        ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
        ELSE []::VARCHAR[] END) AS s FROM nd) t0) t1),
bench AS (
  SELECT DISTINCT {hash60_duck("s")} AS h FROM (
    SELECT unnest({SH_DUCK}) AS s FROM documents WHERE {_BENCH_DUCK}) t),
contaminated AS (
  SELECT dsh.doc_id FROM dsh LEFT JOIN bench USING (h)
  GROUP BY dsh.doc_id
  HAVING CAST(COUNT(bench.h) AS DOUBLE) / COUNT(*) >= {MAX_CONTAM_FRAC}),
clean AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM nd
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))"""

ORACLE = f"""{CTE_CHAIN}
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         // {PACK_BUDGET} AS BIGINT) AS seq_id
FROM clean ORDER BY doc_id
"""


@declare(
    "curate_corpus",
    oracle=ORACLE,
    doc="The composed curation chain: quality filter -> exact-dedup "
    "keep-first -> near-dup cluster dedup (LSH pairs + jaccard verify + "
    "connected components, keep min per cluster) -> decontamination gate -> "
    "sequence packing — the artifact that proves the pipeline stages COMPOSE "
    "the way a production curation job runs them (each stage individually "
    "oracle-verified by its standalone query; this verifies the chain, "
    "including the recursive-CTE cluster closure in the oracle). The quality "
    "gate is a map-side predicate under the dedup shuffle, candidate "
    "generation is capped-bucket LSH over survivors only, the benchmark set "
    "broadcasts, and packing's prefix-sum shards ride the survivors.",
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, start_offset, seq_id) for the curated corpus.

    Five stages, one logical chain:
      1. quality filter — in-row predicate (n_words, uniq_ratio), map-only
      2. exact dedup    — keep-first (min doc_id) per md5(text), one shuffle
      3. near-dup dedup — minhash-LSH candidates + jaccard verify over the
                          exact-dedup survivors (near_dup_pairs_df), closed
                          into clusters by connected_components; keep the
                          min-doc_id keeper per cluster (round 5 — the one
                          production stage the chain previously skipped)
      4. decontam gate  — per-doc overlap vs the broadcast benchmark shingle
                          set (shingles dedup in-row, corpus never shuffled
                          for the membership check), keep contam_frac < 0.5;
                          benchmark docs themselves are excluded from the
                          training corpus, matching decontamination_overlap
      5. packing        — distributed prefix-sum over the survivors in
                          doc_id order (operators/prefixsum.py)

    NOT one Spark job: connected_components is iterative (one shuffle per
    round, eager localCheckpoint between rounds — the standard distributed-CC
    shape), and the prefix-sum runs one tiny count job per level. The
    exact-dedup survivors are localCheckpointed (round 6), so the
    quality-filter + dedup-window prefix executes exactly ONCE — at
    construction, when the first CC job pulls it — and every later action
    re-reads the materialized survivors instead of re-running the two
    heaviest stages (plan-asserted in tests/test_compose.py). Everything
    else stays one lazy Catalyst plan, and no stage ever collects data rows
    to the driver.
    """
    from ..operators.prefixsum import exclusive_cumsum

    stages = curate_stage_dfs(load_table(spark, sf_dir, "documents"))
    clean = stages["clean"]

    # --- 5. sequence packing over the curated corpus ---
    toks = clean.select(
        "doc_id", F.expr("CAST(size(ws) AS BIGINT)").alias("n_tokens")
    )
    packed = exclusive_cumsum(
        toks, "doc_id", "n_tokens", out="start_offset", shard_width=PACK_SHARD_DOCS
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {PACK_BUDGET}").alias("seq_id"),
    ).orderBy("doc_id")


def curate_stage_dfs(d: DataFrame) -> dict[str, DataFrame]:
    """The curation chain's stage DataFrames, keyed by stage name:
    ``base`` (benchmark docs excluded), ``q`` (quality survivors),
    ``deduped`` (exact-dedup survivors, localCheckpointed), ``nd`` (near-dup
    cluster survivors), ``clean`` (decontaminated). curate_corpus packs
    ``clean``; curation_funnel counts every stage. NOTE: building this dict
    triggers the eager near-dup stage (connected components runs at
    construction)."""
    # --- 1. quality filter (map-only; words array materialized once) ---
    ws = d.select("doc_id", "text", F.expr(W_SPARK).alias("ws")).filter(
        ~F.expr(_BENCH_SPARK)  # benchmark docs are eval data, never training
    )
    q = ws.filter(
        (F.size("ws") >= MIN_WORDS)
        & (F.expr("size(array_distinct(ws))").cast("double") / F.size("ws") >= MIN_UNIQ_RATIO)
    )

    # --- 2. exact dedup, keep-first: min doc_id per text hash ---
    keep = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    deduped = (
        q.withColumn("_rn", F.row_number().over(keep)).filter(F.col("_rn") == 1).drop("_rn")
        # Materialize the survivors ONCE (RDD-level localCheckpoint — the
        # no-SQL-cache materialization, same as connected_components): they
        # feed BOTH the eager near-dup stage (LSH pairs -> connected
        # components, which runs at construction) and the returned lazy chain
        # (stages 4-5, re-run per action). Without this the quality filter +
        # dedup window — the two heaviest stages — executed twice per action
        # (measured 41-51s -> expected ~10-20% off at the 1M-doc stress; the
        # streaming twin already materializes survivors for the same reason,
        # streaming/curate.py). Lazy: the first CC job populates it.
        # DISK_ONLY so the stored survivors never pin the unified memory pool
        # against the chain's own aggregates (see exact_substring_spans).
    )
    deduped = materialize(deduped)

    # --- 3. near-dup dedup: LSH pairs -> clusters -> keep min per cluster ---
    # spread=False: the survivors sit downstream of the dedup window's
    # shuffle, so scan parallelism is already established
    pairs = near_dup_pairs_df(
        deduped.select("doc_id", "text"), spread=False
    ).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    losers = comps.filter(F.col("comp") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    nd = deduped.join(losers, "doc_id", "left_anti")

    # --- 4. decontamination gate (in-row shingle dedup; bench set broadcast) ---
    sh = shingle_hashes(nd.select("doc_id", "ws"))
    bench = shingle_hashes(
        d.filter(F.expr(_BENCH_SPARK)).select(F.expr(W_SPARK).alias("ws"))
    ).distinct()
    contam = (
        sh.join(F.broadcast(bench.withColumn("hit", F.lit(1))), "h", "left")
        .groupBy("doc_id")
        .agg((F.count("hit").cast("double") / F.count(F.lit(1))).alias("contam_frac"))
        .filter(F.col("contam_frac") >= MAX_CONTAM_FRAC)
        .select("doc_id")
    )
    clean = nd.join(contam, "doc_id", "left_anti")

    return {"base": ws, "q": q, "deduped": deduped, "nd": nd, "clean": clean}


_FUNNEL_STAGES = [
    (0, "input", "base"),
    (1, "quality", "q"),
    (2, "exact_dedup", "deduped"),
    (3, "near_dup", "nd"),
    (4, "decontam", "clean"),
]


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    stages = curate_stage_dfs(load_table(spark, sf_dir, "documents"))
    cnt_dfs = [
        stages[key]
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            F.lit(i).cast("int").alias("stage_id"),
            F.lit(name).alias("stage"),
            "n_docs",
        )
        for i, name, key in _FUNNEL_STAGES
    ]
    counts = reduce(DataFrame.unionAll, cnt_dfs)
    return funnel_from_counts(counts)


def funnel_from_counts(counts: DataFrame) -> DataFrame:
    """(stage_id, stage, n_docs) -> the funnel presentation (+ n_dropped,
    retention). Shared by the batch funnel above and the streaming funnel
    (streaming/curate.py read_funnel) so the report shape cannot drift.
    The window runs over #stages rows."""
    w = Window.orderBy("stage_id")
    return counts.select(
        "stage_id",
        "stage",
        "n_docs",
        F.coalesce(F.lag("n_docs").over(w) - F.col("n_docs"), F.lit(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.round(
            F.col("n_docs").cast("double") / F.first("n_docs").over(w), 6
        ).alias("retention"),
    ).orderBy("stage_id")
