"""Serialization-matrix tests (P7) — differential against known Cassandra wire
encodings (the reference tests the same way:
/root/reference/src/test/java/com/spotify/hdfs2cass/cassandra/utils/CassandraRecordUtilsTest.java:26-78).
"""

import struct
from datetime import datetime, timezone

import pytest

from hdfs2cass_spark.functions.serde import (
    compose_partition_key,
    encode_row_key,
    to_cassandra_bytes,
)


def test_scalars():
    assert to_cassandra_bytes(None) == b""
    assert to_cassandra_bytes("abc") == b"abc"
    assert to_cassandra_bytes("héllo") == "héllo".encode("utf-8")
    assert to_cassandra_bytes(1) == struct.pack(">i", 1)
    assert to_cassandra_bytes(2**40) == struct.pack(">q", 2**40)
    assert to_cassandra_bytes(1.5) == struct.pack(">d", 1.5)
    assert to_cassandra_bytes(True) == b"\x01"
    assert to_cassandra_bytes(False) == b"\x00"
    assert to_cassandra_bytes(b"\x00\x01") == b"\x00\x01"
    # millis floor, like Instant.toEpochMilli: half a millisecond before the epoch is -1
    before_epoch = datetime(1969, 12, 31, 23, 59, 59, 999500, tzinfo=timezone.utc)
    assert to_cassandra_bytes(before_epoch) == struct.pack(">q", -1)


def test_list_wire_format():
    # ListSerializer v2: 2-byte count, then 2-byte-len elements
    assert to_cassandra_bytes(["a", "bc"]) == b"\x00\x02" + b"\x00\x01a" + b"\x00\x02bc"


def test_map_wire_format():
    got = to_cassandra_bytes({"k": "v"})
    assert got == b"\x00\x01" + b"\x00\x01k" + b"\x00\x01v"


def test_set_is_sorted_and_deduped():
    assert to_cassandra_bytes({"b", "a"}) == b"\x00\x02" + b"\x00\x01a" + b"\x00\x01b"


def test_unsupported_type_raises():
    # reference raises CrunchRuntimeException (CassandraRecordUtils.java:115)
    with pytest.raises(TypeError):
        to_cassandra_bytes(object())


def test_composite_key_envelope():
    # single component: raw bytes, no envelope
    assert compose_partition_key(b"solo") == b"solo"
    # multi: [2-byte len][bytes][0x00] each (CassandraRecordUtils.java:244-261)
    got = compose_partition_key(b"ab", b"c")
    assert got == b"\x00\x02ab\x00" + b"\x00\x01c\x00"


def test_encode_row_key():
    row = ("u1", 7, "x")
    assert encode_row_key(row, [0]) == b"u1"
    assert encode_row_key(row, [0, 1]) == b"\x00\x02u1\x00" + b"\x00\x04" + struct.pack(">i", 7) + b"\x00"
