"""Simulated bulk sink (W1/W2 offline twin).

The reference's sink builds SSTables on reducer-local disk from token-sorted
input and streams them to the owning replicas
(/root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/cql/CrunchCqlBulkRecordWriter.java:87-181,
``CQLSSTableWriter(...).sorted()`` at :95 relies on the shuffle's sort order).

Offline we preserve everything observable about that contract:
  - one directory per token bucket (``bucket=N/``) — the "SSTable slice per
    reducer" analog
  - rows within each bucket file are in (token, key) order — append-only
  - payload columns: key, token, writetime, ttl + the logical value columns

Parquet is the storage format (columnar, splittable — what you'd actually want
on a 100 TB cluster); a real cluster load goes through sinks/cassandra.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# compressionclass= URI option -> parquet codec (the reference passes the
# Cassandra compressor class to the SSTable writer via
# CassandraParams.java:102-106 / the bulk output config; offline, the
# analogous knob is the sink file codec)
_COMPRESSION_MAP = {
    "SnappyCompressor": "snappy",
    "LZ4Compressor": "lz4",
    "DeflateCompressor": "gzip",
    "ZstdCompressor": "zstd",
}


def write_simulated_sstables(
    routed: DataFrame,
    path: str,
    mode: str = "overwrite",
    compressionclass: str | None = None,
) -> None:
    """Write a `route_to_buckets` output as bucket-partitioned sorted parquet.

    ``partitionBy("bucket")`` + the upstream routing (every bucket wholly in
    one task, ``sortWithinPartitions(bucket, token, key)``) means each task
    writes its buckets one after another, each bucket's rows in token order —
    one sorted file per bucket, no post-sort, matching the reference's
    append-only writer contract.

    `compressionclass` accepts the Cassandra compressor class names from the
    output URI (short or fully-qualified) and maps them to the sink codec;
    unknown classes fail loudly rather than silently writing the default.
    """
    if "bucket" not in routed.columns or "token" not in routed.columns:
        raise ValueError("expected a route_to_buckets output (bucket/token columns)")
    writer = routed.write.mode(mode).partitionBy("bucket")
    if compressionclass:
        codec = _COMPRESSION_MAP.get(compressionclass.rsplit(".", 1)[-1])
        if codec is None:
            raise ValueError(
                f"unknown compressionclass {compressionclass!r}; "
                f"supported: {sorted(_COMPRESSION_MAP)}"
            )
        writer = writer.option("compression", codec)
    writer.parquet(path)
