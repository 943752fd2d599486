"""Streaming decontamination: score documents against a benchmark shingle set
as they arrive.

The batch twin is ``plans/pipeline.py decontamination_overlap``; this is the
shape a live crawl-ingest pipeline runs. Per micro-batch, the arriving
documents' distinct shingles are scored with the SAME broadcast left join the
batch twin plans — via foreachBatch, so the join and per-doc aggregate are
batch-scoped and NO streaming state accumulates (a raw streaming
groupBy/dropDuplicates on doc_id would hold every doc ever seen in the state
store — the unbounded-state killer). The static benchmark side is tiny by
construction (eval suites vs a 100 TB crawl), so every micro-batch is scored
map-side with one small per-doc aggregate shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_SPARK, hash60_spark
from ..operators.text import shingle_hashes
from ..sources.readers import ensure_session_confs


def stream_documents(spark: SparkSession, docs_dir: str, schema=None) -> DataFrame:
    """readStream over a directory of documents parquet files (one micro-batch
    per file under availableNow, mirroring stream_events).

    The file source needs a pinned schema. Pass ``schema`` explicitly for a
    live ingest directory — those typically START empty, and later files must
    match the declared layout. When ``schema`` is None it is inferred from a
    one-off batch read of ``docs_dir``, which requires the directory to be
    non-empty at stream construction (the right default for the fixture
    dirs, whose physical types have flipped between testdata generations —
    don't hardcode them)."""
    ensure_session_confs(spark)
    if schema is None:
        schema = spark.read.parquet(docs_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(docs_dir)
    )


def score_batch(docs: DataFrame, bench_shingles: DataFrame) -> DataFrame:
    """The per-batch scoring plan (shared with the test's batch twin):
    distinct shingles per doc, broadcast-left-joined to the benchmark set.
    Docs with no shingles (< 3 words) produce no row, like the batch twin.

    Matching the batch operator, membership is checked on 60-bit md5-derived
    shingle hashes: ``bench_shingles`` still arrives as a ``s`` string column
    (API unchanged) and is hashed here, so the broadcast that rides EVERY
    micro-batch carries 8-byte ints instead of shingle strings."""
    # in-row array_distinct (not a global .distinct()): per-doc distinctness
    # is row-local — the batch operator's shingle_hashes, zero shuffles
    sh = shingle_hashes(docs.select("doc_id", F.expr(W_SPARK).alias("ws")))
    bench_h = bench_shingles.select(
        F.expr(hash60_spark("s")).alias("h")
    ).distinct()
    return (
        sh.join(F.broadcast(bench_h.withColumn("hit", F.lit(1))), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias("contam_frac"),
        )
    )


def stream_decontamination(
    stream: DataFrame,
    bench_shingles: DataFrame,
    sink_path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the streaming decontamination query; returns the StreamingQuery.

    ``bench_shingles`` is a STATIC single-column DataFrame ``s`` of the
    benchmark corpus's distinct shingles. Scored rows land under ``sink_path``
    as parquet with the batch twin's schema
    (doc_id, n_shingles, n_contaminated, contam_frac) — read them back with
    :func:`read_scored`, which knows the per-batch directory layout.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # exactly-once under retries: foreachBatch is at-least-once, so a
        # failure between the parquet write and the checkpoint commit replays
        # this batch_id. Overwriting the batch's OWN subdirectory makes the
        # replay a no-op (a flat append would duplicate the micro-batch).
        # The dir name deliberately has no '=' so readers see data columns
        # only, not a discovered partition column.
        # The repartition spreads a one-file micro-batch (ONE scan partition)
        # before the shingle explode — otherwise the scoring chain runs
        # single-core (same hazard measured at 2.6x on the curation chain).
        n = batch_df.sparkSession.sparkContext.defaultParallelism
        score_batch(
            batch_df.repartition(n, "doc_id"), bench_shingles
        ).write.mode("overwrite").parquet(f"{sink_path}/batch-{batch_id:09d}")

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_scored(spark: SparkSession, sink_path: str) -> DataFrame:
    """Read everything stream_decontamination wrote under ``sink_path`` (its
    batch-NNNNNNNNN subdirectories, through ``read_index``)."""
    from .index import read_index

    return read_index(spark, sink_path)
