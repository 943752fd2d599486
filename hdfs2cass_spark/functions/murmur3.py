"""Cassandra-compatible Murmur3 token function.

The reference routes every row to the reducer owning its Cassandra token range;
tokens come from Cassandra's Murmur3Partitioner (MurmurHash3 x64 128, seed 0,
first 64-bit half), see SURVEY.md §4.3 and
/root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/CassandraPartitioner.java:42-127.

Cassandra's Java implementation deviates from vanilla murmur3 in one observable
way: tail bytes are sign-extended (Java ``(long) byte``) rather than masked
unsigned. We reproduce that so tokens match the cluster's ring exactly.

Golden values (from the reference's own tests,
/root/reference/src/test/java/com/spotify/hdfs2cass/cassandra/utils/CassandraKeyComparatorTest.java:53-67):
    token(b"foo") == -2129773440516405919
    token(b"bar") == -7911037993560119804
    token(b"baz") ==  8295379539955784970
    token(b"")    ==  MIN_TOKEN (Long.MIN_VALUE)

Edge cases mirrored from Cassandra's Murmur3Partitioner.getToken:
    - empty key -> minimum token (Long.MIN_VALUE)
    - raw hash Long.MIN_VALUE -> normalized to Long.MAX_VALUE

`xxhash64`/`hash` built-ins are NOT substitutes — they use different algorithms
and would route rows to the wrong replica. This module is the readable spec
and the test oracle; the bulk-load path computes the same token JVM-side
(``hdfs2cass_spark/jvm/Tokens.java``, differentially tested against it).
"""

from __future__ import annotations

_MASK64 = 0xFFFFFFFFFFFFFFFF
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F

MIN_TOKEN = -(2**63)
MAX_TOKEN = 2**63 - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


def _signed64(x: int) -> int:
    x &= _MASK64
    return x - (1 << 64) if x >= (1 << 63) else x


def murmur3_x64_128(key: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3 x64 128 with Cassandra's signed-tail-byte quirk.

    Returns (h1, h2) as signed 64-bit ints.
    """
    length = len(key)
    nblocks = length // 16
    h1 = seed & _MASK64
    h2 = seed & _MASK64

    for i in range(nblocks):
        off = i * 16
        k1 = int.from_bytes(key[off : off + 8], "little")
        k2 = int.from_bytes(key[off + 8 : off + 16], "little")

        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64

        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    # tail: Cassandra sign-extends each byte before shifting (Java (long) cast)
    tail = key[nblocks * 16 :]
    k1 = 0
    k2 = 0
    tl = len(tail)

    def sb(i: int) -> int:
        b = tail[i]
        return b - 256 if b >= 128 else b

    if tl >= 9:
        for i in range(tl - 1, 7, -1):
            k2 ^= (sb(i) << ((i - 8) * 8)) & _MASK64
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
    if tl >= 1:
        for i in range(min(tl, 8) - 1, -1, -1):
            k1 ^= (sb(i) << (i * 8)) & _MASK64
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    return _signed64(h1), _signed64(h2)


def cassandra_token(key: bytes | str | None) -> int:
    """Murmur3Partitioner token for a partition-key byte string."""
    if key is None:
        key = b""
    if isinstance(key, str):
        key = key.encode("utf-8")
    if len(key) == 0:
        return MIN_TOKEN
    h1, _ = murmur3_x64_128(key)
    return MAX_TOKEN if h1 == MIN_TOKEN else h1
