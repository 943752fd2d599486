"""Streaming Bloom-filter enrollment — the on-ingest twin of
plans/bloom.py ``bloom_decontamination``'s filter build.

A live eval-suite registry appends benchmark documents over time; the
contamination filter must grow WITH it without ever rebuilding from
scratch. Per arriving micro-batch of benchmark docs: hash their distinct
shingles (the shared operators/text.py arithmetic), fold them into sparse
(w, v) filter words (the shared plans/bloom.py bloom_word_rows), and
append to an accumulating word index (streaming/index.py machinery).

Why this streams PERFECTLY: the filter is a pure OR-fold of per-shingle
bit sets — bit_or is idempotent and commutative, so (a) an at-least-once
replay of a batch re-ORs bits that are already set (no-op), (b) ANY
arrival order produces the identical filter (it is exactly the set union
of enrolled shingles' bits), and (c) compaction's fold is the same
bit_or, so compacted and uncompacted reads agree bit-for-bit. The index
is bounded by N_WORDS rows per batch dir (~4k) regardless of benchmark
size — the smallest index of the streaming family by orders of magnitude.

``bloom_report`` probes any document frame against the accumulated
filter with the batch probe (bloom_probe_df) — stream == batch asserted
for out-of-order benchmark arrival across a compaction
(tests/test_streaming.py).

Reference framing: no decontamination surface exists in the reference
(SURVEY.md §1.4) — extension surface composing oracle row 87's fragments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_SPARK
from ..operators.text import _spread_docs, shingle_hashes
from ..plans.bloom import bloom_probe_df, bloom_word_rows, dense_words


def stream_bloom_enroll(
    bench_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = False,
    compact_every: int | None = 8,
):
    """Start the enrollment query over a stream of benchmark documents
    (doc_id, text, ...); returns the StreamingQuery. The accumulated filter
    is read back with :func:`read_bloom_words` / probed with
    :func:`bloom_report`."""
    from .index import append, compact

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(
                spark,
                index_path,
                batch_id,
                fold=lambda df: df.groupBy("w").agg(F.expr("bit_or(v)").alias("v")),
            )
        n = spark.sparkContext.defaultParallelism
        sh = shingle_hashes(
            batch_df.repartition(n, "doc_id").select(F.expr(W_SPARK).alias("ws"))
        )
        append(bloom_word_rows(sh), index_path, batch_id)

    writer = bench_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_bloom_words(spark: SparkSession, index_path: str) -> list[int]:
    """The accumulated filter as a dense word list: OR the keeper + recent
    appends (same fold as compaction, so compacted/uncompacted agree)."""
    from .index import read_index

    rows = (
        read_index(spark, index_path)
        .groupBy("w")
        .agg(F.expr("bit_or(v)").alias("v"))
        .collect()
    )
    return dense_words(rows)


def bloom_report(
    spark: SparkSession, index_path: str, train_docs: DataFrame
) -> DataFrame:
    """Probe ``train_docs`` (doc_id, text, ...) against the accumulated
    filter — the batch bloom_decontamination probe over the streamed-in
    benchmark: identical output schema (doc_id, n_shingles, n_bloom_hits,
    bloom_frac, flagged)."""
    sh = shingle_hashes(_spread_docs(train_docs).select("doc_id", F.expr(W_SPARK).alias("ws")))
    return bloom_probe_df(sh, read_bloom_words(spark, index_path))
