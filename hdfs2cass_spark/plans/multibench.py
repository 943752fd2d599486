"""Multi-benchmark decontamination: one corpus scan vs N eval suites.

``decontamination_overlap`` (plans/pipeline.py) answers "how contaminated
is each training doc against THE benchmark set". Real pretraining runs
check against MANY suites at once (each eval's held-out set), and the
shape that survives 100 TB is: fold every suite's shingle set into ONE
small (h, in_suite_1..in_suite_N) membership table, broadcast it, and
resolve every suite's overlap in the SAME map-side probe — never one scan
per suite. ``decontamination_by_benchmark`` declares that operator with
three fixture suites (the same md5 'bench:' derivation as
decontamination_overlap: bucket 0 IS that query's benchmark set, buckets
1-2 add two more; train = the rest), reporting per training doc the
per-suite contaminated-shingle counts, the worst suite, and the max
contamination fraction.

Scale shape: the suites' union is tiny next to the corpus, so the folded
membership table broadcasts; a training shingle matches AT MOST ONE row of
it (grouped by h — no row amplification when a shingle appears in several
suites), so the per-doc aggregate sees exactly n_shingles rows. The corpus
is never shuffled before the per-doc aggregate.

Registered last (with crossdedup) so it appends to the driver's checked
prefix as oracle row #68.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_SPARK, hash60_duck, hash60_spark
from ..operators.text import SHH_DUCK, _spread_docs, shingle_hashes
from ..sources import load_table
from .registry import declare

N_SUITES = 3
_BID_SPARK = hash60_spark("concat('bench:', CAST(doc_id AS STRING))") + " % 20"
_BID_DUCK = hash60_duck("'bench:' || CAST(doc_id AS VARCHAR)") + " % 20"
_SUITES = [f"suite{c}" for c in "ABC"]


@declare(
    "decontamination_by_benchmark",
    oracle=f"""
    WITH sh AS ({SHH_DUCK}),
    lab AS (SELECT doc_id, h, {_BID_DUCK} AS bid FROM sh),
    bench AS (
      SELECT h,
             {", ".join(f"MAX(CASE WHEN bid = {i} THEN 1 ELSE 0 END) AS in{i}"
                        for i in range(N_SUITES))}
      FROM lab WHERE bid < {N_SUITES} GROUP BY h),
    agg AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             {", ".join(f"CAST(COALESCE(SUM(in{i}), 0) AS BIGINT) AS hits_{s}"
                        for i, s in enumerate(_SUITES))}
      FROM (SELECT doc_id, h FROM lab WHERE bid >= {N_SUITES}) t
      LEFT JOIN bench USING (h)
      GROUP BY t.doc_id)
    SELECT doc_id, n_shingles,
           {", ".join(f"hits_{s}" for s in _SUITES)},
           round(CAST(greatest({", ".join(f"hits_{s}" for s in _SUITES)})
                 AS DOUBLE) / n_shingles, 6) AS max_contam_frac,
           CASE WHEN greatest({", ".join(f"hits_{s}" for s in _SUITES)}) = 0
                THEN NULL
                WHEN hits_suiteA >= hits_suiteB AND hits_suiteA >= hits_suiteC
                THEN 'suiteA'
                WHEN hits_suiteB >= hits_suiteC THEN 'suiteB'
                ELSE 'suiteC' END AS worst_suite
    FROM agg ORDER BY doc_id
    """,
    doc=f"Multi-benchmark decontamination: per training doc, the distinct-"
    f"shingle overlap against {N_SUITES} eval suites AT ONCE — the suites "
    f"fold into one broadcast (h, in_suite...) membership table grouped by "
    f"h, so every suite resolves in the SAME map-side probe (never one "
    f"corpus scan per suite) and a multi-suite shingle cannot amplify "
    f"rows. Reports per-suite hit counts, the worst suite (deterministic "
    f"A>=B>=C tiebreak, NULL when clean), and the max contamination "
    f"fraction. Suite 0 is exactly decontamination_overlap's benchmark "
    f"set; train docs are everything outside all suites.",
)
def decontamination_by_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(  # (doc_id, h) distinct
        _spread_docs(d).select("doc_id", F.expr(W_SPARK).alias("ws"))
    )
    lab = sh.withColumn("bid", F.expr(_BID_SPARK))
    bench = (
        lab.filter(F.col("bid") < N_SUITES)
        .groupBy("h")
        .agg(
            *[
                F.max(F.when(F.col("bid") == i, 1).otherwise(0)).alias(f"in{i}")
                for i in range(N_SUITES)
            ]
        )
    )
    agg = (
        lab.filter(F.col("bid") >= N_SUITES)
        .select("doc_id", "h")
        .join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            *[
                F.coalesce(F.sum(f"in{i}"), F.lit(0))
                .cast("bigint")
                .alias(f"hits_{s}")
                for i, s in enumerate(_SUITES)
            ],
        )
    )
    hits = [F.col(f"hits_{s}") for s in _SUITES]
    worst = (
        F.when(F.greatest(*hits) == 0, F.lit(None).cast("string"))
        .when(
            (F.col("hits_suiteA") >= F.col("hits_suiteB"))
            & (F.col("hits_suiteA") >= F.col("hits_suiteC")),
            F.lit("suiteA"),
        )
        .when(F.col("hits_suiteB") >= F.col("hits_suiteC"), F.lit("suiteB"))
        .otherwise(F.lit("suiteC"))
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        *[f"hits_{s}" for s in _SUITES],
        F.round(
            F.greatest(*hits).cast("double") / F.col("n_shingles"), 6
        ).alias("max_contam_frac"),
        worst.alias("worst_suite"),
    ).orderBy("doc_id")
