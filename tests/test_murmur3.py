"""Golden-value tests for the Cassandra Murmur3 token function.

Constants come from the reference's own tests
(/root/reference/src/test/java/com/spotify/hdfs2cass/cassandra/utils/CassandraKeyComparatorTest.java:53-67).
"""

from hdfs2cass_spark.functions.murmur3 import (
    MAX_TOKEN,
    MIN_TOKEN,
    cassandra_token,
    murmur3_x64_128,
)

GOLDENS = {
    b"foo": -2129773440516405919,
    b"bar": -7911037993560119804,
    b"baz": 8295379539955784970,
}


def test_golden_tokens():
    for key, tok in GOLDENS.items():
        assert cassandra_token(key) == tok


def test_empty_key_is_min_token():
    # CassandraKeyComparatorTest.java:64-66: empty key sorts before everything
    assert cassandra_token(b"") == MIN_TOKEN
    assert cassandra_token(None) == MIN_TOKEN


def test_expected_sort_order():
    # expected decorated order: "" < bar < foo < baz
    keys = [b"baz", b"foo", b"", b"bar"]
    assert sorted(keys, key=cassandra_token) == [b"", b"bar", b"foo", b"baz"]


def test_str_and_bytes_agree():
    assert cassandra_token("foo") == cassandra_token(b"foo")


def test_token_range():
    for k in [b"a", b"abcdefghijklmnop", b"abcdefghijklmnopq", bytes(range(256))]:
        assert MIN_TOKEN < cassandra_token(k) <= MAX_TOKEN


def test_long_keys_and_tails():
    # exercise block path (>=16B), 8<tail<16, and high-bit (signed-tail) bytes;
    # values are self-consistency checks (stable across runs/platforms)
    assert murmur3_x64_128(b"the quick brown fox jumps over the lazy dog")[0] == (
        -4835482818955082061
    )
    assert cassandra_token(bytes(range(200, 230))) == -1961898924875430197
