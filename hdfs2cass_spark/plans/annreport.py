"""ANN quality report: IVF recall against the exact baseline, as a QUERY.

The IVF family's recall guarantee previously lived only in pytest
(tests/test_kmeans.py asserts recall >= 0.9 on a planted corpus) — a
property the driver's correctness gate never sees. This module turns the
evaluation itself into an oracle-checked catalog row: per query vector,
how many of the exact cosine top-k does the cell-probed IVF search
recover? Both rankers are the ALREADY-ORACLE-CHECKED queries
(embedding_topk_cosine, embedding_ivf_topk — same fixture quantizer, same
quantized cell assignment, same rounded cosine, same tiebreaks), so the
report's own hash check re-verifies the composition end to end, and the
driver now watches ANN quality every round instead of trusting a test it
cannot run.

Scale: the report costs one brute pass (the documented O(queries x corpus)
baseline — evaluation workloads sample queries precisely so this stays
affordable) plus the IVF search, joined at top-k grain (queries x k rows).
At 100 TB you run it on a query SAMPLE, not the corpus: the plan's join
side is already bounded by n_queries x k regardless of corpus size.

Reference scope: extension surface (the reference has no similarity
search); part of the training-pipeline family the build brief makes
first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vec import _cosine_duck
from ..operators.kmeans import (
    _IVF_CENTS,
    _IVF_CENT_VALUES_DUCK,
    _IVF_DIST_DUCK,
    _NPROBE,
    ivf_probe_topk,
)
from ..sources.readers import load_table
from .llm import embedding_topk_cosine
from .registry import declare

_K = 3  # compare top-3 of both rankers (the IVF query's k)


@declare(
    "ann_recall_report",
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
    isims AS (
      SELECT c.q_id, e.vec_id,
             round({_cosine_duck('q.qe', 'e.embedding')}, 6) AS sim
      FROM qcells c
      JOIN vcell vc ON vc.cell = c.cell
      JOIN embeddings e ON e.vec_id = vc.vec_id
      JOIN q ON q.q_id = c.q_id
      WHERE e.vec_id <> c.q_id
        AND {_cosine_duck('q.qe', 'e.embedding')} IS NOT NULL),
    i3 AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        FROM isims) t WHERE rnk <= {_K}),
    bsims AS (
      SELECT q_id, vec_id,
             round({_cosine_duck('qe', 'embedding')}, 6) AS sim
      FROM q CROSS JOIN embeddings
      WHERE vec_id <> q_id AND {_cosine_duck('qe', 'embedding')} IS NOT NULL),
    b3 AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        FROM bsims) t WHERE rnk <= {_K})
    SELECT b.q_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS recall
    FROM b3 b LEFT JOIN i3 i ON i.q_id = b.q_id AND i.vec_id = b.vec_id
    GROUP BY b.q_id ORDER BY b.q_id
    """,
    doc=f"Recall@{_K} of the fixture-quantizer IVF search against the exact "
    "cosine baseline, per query: the composition of the two oracle-checked "
    "rankers (embedding_topk_cosine restricted to its top-3, "
    "embedding_ivf_topk) joined at (q_id, vec_id) grain. Makes the ANN "
    "quality bound a DRIVER-CHECKED value every round rather than a "
    "pytest-only assertion. recall is an IEEE double division of identical "
    "integer operands (engine-exact). Expectation note: the synthetic "
    "fixture's vectors are RANDOM (max pairwise cosine ~0.5), so true "
    "neighbors scatter across cells and nprobe=2/8 recall is legitimately "
    "modest at small SFs (e.g. 2-3/3 at sf0.01) — the recall >= 0.9 "
    "guarantee holds on CLUSTERED corpora (tests/test_kmeans.py's planted "
    "corpus), which is the geometry real embeddings have; this report "
    "measures whatever the data gives, it does not assert a floor.",
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    brute = (
        embedding_topk_cosine(spark, sf_dir)
        .filter(F.col("rnk") <= _K)
        .select("q_id", "vec_id")
    )
    ivf = ivf_probe_topk(e, _IVF_CENTS).select(
        "q_id", "vec_id", F.lit(1).alias("_hit")
    )
    return (
        brute.join(ivf, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_matched"),
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("recall"),
        )
        .orderBy("q_id")
    )
