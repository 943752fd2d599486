"""Streaming bulk-load: the reference dataflow fed by a stream.

The reference is batch-only; this extension runs the batch ``bulk_load``
(reshape -> token-route -> sorted-bucket sink, every output-URI option
included) per micro-batch via foreachBatch.
Each micro-batch appends its own token-sorted bucket files — the same
append-only-within-bucket contract, amortized over time. A real deployment
points the writer at the Cassandra connector instead of parquet; everything
upstream is identical.

foreachBatch (not a custom streaming sink) because the route step needs a
batch-scoped repartition+sort — exactly the operation Structured Streaming's
continuous sinks can't express, and the documented escape hatch for it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..config import CassandraParams
from ..sinks.pipeline import bulk_load
from ..sinks.simulated import write_simulated_sstables


def stream_bulk_load(
    stream: DataFrame,
    output_uri: str,
    sink_path: str,
    checkpoint: str,
    rowkey: str | None = None,
    timestamp: str | None = None,
    ttl: str | None = None,
    ignore: Sequence[str] = (),
    now_ms: int | None = None,
    available_now: bool = False,
):
    """Start the streaming bulk-load query; returns the StreamingQuery."""
    params = CassandraParams.parse(output_uri)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The upfront repartition spreads a one-file micro-batch (ONE scan
        # partition) so the token UDF doesn't run single-core before the
        # bucket shuffle.
        npart = batch_df.sparkSession.sparkContext.defaultParallelism
        routed = bulk_load(
            batch_df.repartition(npart),
            output_uri,
            rowkey=rowkey,
            timestamp=timestamp,
            ttl=ttl,
            ignore=ignore,
            now_ms=now_ms,
        )
        write_simulated_sstables(
            routed, sink_path, mode="append", compressionclass=params.compressionclass
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
