"""Cassandra RandomPartitioner (MD5 / BigIntegerToken) token function.

The reference dispatches on the cluster's partitioner class: Murmur3 clusters
take the LongToken branch, pre-Murmur3 clusters the BigIntegerToken branch
(/root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/
CassandraPartitioner.java:63-68 — ``((BigIntegerToken) token).token.abs()``)
with ring [0, 2^127): minToken = RandomPartitioner.ZERO, maxToken =
RandomPartitioner.MAXIMUM - 1 (CassandraParams.java:297-301).

Cassandra's RandomPartitioner.getToken semantics reproduced here:
  - token = abs(BigInteger(md5(key)))  — the 16-byte digest interpreted as a
    SIGNED big-endian 128-bit integer, then absolute value
  - empty key -> MINIMUM (zero)

Tokens exceed int64/decimal(38) range (up to 2^127), so the DataFrame carries
them as fixed-width zero-padded decimal strings (39 chars): lexicographic
order == numeric order for non-negative values, which keeps the in-partition
``sortWithinPartitions(bucket, token)`` append-only contract intact without
128-bit arithmetic in Catalyst.

This module is the readable spec and the test oracle; the bulk-load path
computes token and bucket JVM-side (``hdfs2cass_spark/jvm/Tokens.java``,
differentially tested against it).
"""

from __future__ import annotations

import hashlib

RING_SIZE_MD5 = 2**127  # maxToken - minToken + 1 (CassandraParams.java:310-312)
TOKEN_WIDTH = 39  # digits of 2^127 — zero-pad width for sortable string tokens


def md5_token(key: bytes | str | None) -> int:
    """RandomPartitioner token for a partition-key byte string."""
    if key is None:
        key = b""
    if isinstance(key, str):
        key = key.encode("utf-8")
    if len(key) == 0:
        return 0
    digest = hashlib.md5(key).digest()
    return abs(int.from_bytes(digest, "big", signed=True))


def range_per_bucket_md5(num_buckets: int) -> int:
    """rangePerReducer for the MD5 ring (divide, +1 on remainder —
    CassandraParams.java:310-317)."""
    q, r = divmod(RING_SIZE_MD5, num_buckets)
    return q + (1 if r else 0)
