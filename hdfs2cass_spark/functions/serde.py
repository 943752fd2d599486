"""Cassandra wire-format serialization — the reference's scalar type system.

Re-expresses ``CassandraRecordUtils.toByteBuffer`` (SURVEY.md §1.3;
/root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/CassandraRecordUtils.java:80-116)
and composite partition-key composition (``getPartitionKey``/``compose``,
CassandraRecordUtils.java:230-261).

Two forms of one format. ``to_cassandra_bytes`` and ``compose_partition_key``
are the readable Python spec. ``cassandra_hex`` is the engine's only
serializer: a type-directed Catalyst expression that builds the partition key
(``operators/partitioning.binary_key_expr``) and every CQL bind value
(``sinks/wire.encode_cql_wire``), so neither starts a Python worker. Catalyst
has no bit cast for double/float and no form of Cassandra's decimal, so those
three call the Java functions of ``jvm/Tokens.java``; the caller registers
them with ``jvm.ensure_registered``.
"""

from __future__ import annotations

import struct
import uuid as _uuid
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..jvm import DECIMAL_BYTES, DOUBLE_BYTES, FLOAT_BYTES
from .ts import epoch_micros

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MS = timedelta(milliseconds=1)


def to_cassandra_bytes(value: object) -> bytes:
    """Serialize one scalar/collection to Cassandra wire bytes.

    Matrix mirrors CassandraRecordUtils.java:80-116; unsupported types raise
    TypeError (the reference raises CrunchRuntimeException at :115 — we fail at
    plan/encode time instead).
    """
    if value is None:
        return b""
    if isinstance(value, str):
        return value.encode("utf-8")
    if isinstance(value, bool):  # before int: bool is an int subclass
        return b"\x01" if value else b"\x00"
    if isinstance(value, float):
        return struct.pack(">d", value)
    if isinstance(value, int):
        # Java Integer vs Long distinction: use 4 bytes if it fits, else 8.
        if -(2**31) <= value < 2**31:
            return struct.pack(">i", value)
        return struct.pack(">q", value)
    if isinstance(value, (bytes, bytearray, memoryview)):
        return bytes(value)
    if isinstance(value, Decimal):
        # Cassandra DecimalSerializer: 4-byte scale + unscaled big-endian two's-complement
        sign, digits, exponent = value.as_tuple()
        unscaled = int(value.scaleb(-exponent))
        scale = -exponent
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        return struct.pack(">i", scale) + unscaled.to_bytes(nbytes, "big", signed=True)
    if isinstance(value, datetime):
        # Cassandra TimestampSerializer: millis since epoch, 8 bytes
        # floor, like Instant.toEpochMilli: 1969-12-31 23:59:59.9995 is -1
        if value.tzinfo is None:
            value = value.replace(tzinfo=timezone.utc)
        return struct.pack(">q", (value - _EPOCH) // _MS)
    if isinstance(value, date):
        dt = datetime(value.year, value.month, value.day, tzinfo=timezone.utc)
        return struct.pack(">q", (dt - _EPOCH) // _MS)
    if isinstance(value, _uuid.UUID):
        return value.bytes
    if isinstance(value, dict):
        # MapSerializer v2 layout: 2-byte count, then per entry 2-byte-len key,
        # 2-byte-len value (CassandraRecordUtils.java:123-142; Utf8 keys coerced
        # to str first — in Python all str already)
        items = list(value.items())
        out = [struct.pack(">H", len(items))]
        for k, v in items:
            kb = to_cassandra_bytes(k)
            vb = to_cassandra_bytes(v)
            out.append(struct.pack(">H", len(kb)) + kb)
            out.append(struct.pack(">H", len(vb)) + vb)
        return b"".join(out)
    if isinstance(value, (set, frozenset)):
        elems = sorted(to_cassandra_bytes(v) for v in value)
        out = [struct.pack(">H", len(elems))]
        for eb in elems:
            out.append(struct.pack(">H", len(eb)) + eb)
        return b"".join(out)
    if isinstance(value, (list, tuple)):
        # ListSerializer v2 layout: 2-byte count then 2-byte-len elements
        out = [struct.pack(">H", len(value))]
        for v in value:
            eb = to_cassandra_bytes(v)
            out.append(struct.pack(">H", len(eb)) + eb)
        return b"".join(out)
    raise TypeError(f"Can not transform field (class: {type(value)!r}) into ByteBuffer")


def compose_partition_key(*components: bytes) -> bytes:
    """Composite partition key wire format: [2-byte len][bytes][0x00] per component.

    Single-component keys are the raw bytes (no envelope) — matching
    CassandraRecordUtils.getPartitionKey (:230-242): composition only applies
    when there are multiple key columns.
    """
    if len(components) == 1:
        return components[0]
    out = []
    for c in components:
        if len(c) > 0xFFFF:
            raise ValueError("partition key component exceeds 65535 bytes")
        out.append(struct.pack(">H", len(c)) + c + b"\x00")
    return b"".join(out)


def encode_row_key(values: tuple, key_indexes: list[int]) -> bytes:
    """Partition-key bytes for a row tuple given key column indexes (K1 semantics,
    CassandraParams.getKeyFn, CassandraParams.java:339-350)."""
    parts = [to_cassandra_bytes(values[i]) for i in key_indexes]
    return compose_partition_key(*parts)


def cassandra_hex(c: Column, dtype: T.DataType) -> Column:
    """Hex of the Cassandra bytes of ``c``, a column of type ``dtype``; ``''``
    for NULL (toByteBuffer(null) is the empty buffer,
    CassandraRecordUtils.java:81-82). A type with no serializer raises
    TypeError here, when the plan is built."""
    return _hex(c, dtype)[0]


def composite_hex(parts: list[tuple[Column, T.DataType]], what="composite key component") -> Column:
    """Hex of the composite envelope [2-byte len][bytes][0x00] per part, or of
    the one part's raw bytes (compose_partition_key). A part over 65535 bytes
    fails the query, naming ``what``."""
    if len(parts) == 1:
        return cassandra_hex(*parts[0])
    fragments: list[Column] = []
    for c, dtype in parts:
        hex_frag, nbytes = _hex(c, dtype)
        fragments += [_length_hex(c, nbytes, what), hex_frag, F.lit("00")]
    return F.concat(*fragments)


def _hex(c: Column, dt: T.DataType) -> tuple[Column, Column | int]:
    """(hex of the bytes, their length: an int for fixed-width types). Hex, so
    a caller materializes the binary once, with one unhex per key or value."""
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        # low 32 bits, big-endian: hex() of the long value, last 8 chars
        return _unless_null(c, F.substring(F.lpad(F.hex(c.cast("long")), 16, "0"), 9, 8)), 4
    if isinstance(dt, T.LongType):
        # hex() of a negative long is its 16-digit two's complement
        return _unless_null(c, F.lpad(F.hex(c), 16, "0")), 8
    if isinstance(dt, (T.StringType, T.BinaryType, T.NullType)):
        return _variable(c.cast("binary"))
    if isinstance(dt, T.BooleanType):
        return _unless_null(c, F.when(c, F.lit("01")).otherwise(F.lit("00"))), 1
    if isinstance(dt, T.TimestampType):
        # unix_millis floors and reads the instant, not the session zone
        return _hex(F.unix_millis(c), T.LongType())
    if isinstance(dt, T.TimestampNTZType):
        # the wall clock as a UTC instant, like to_cassandra_bytes(naive)
        return _hex(F.unix_millis(F.timestamp_micros(epoch_micros(c))), T.LongType())
    if isinstance(dt, T.DateType):
        return _hex(F.unix_date(c).cast("long") * 86_400_000, T.LongType())
    if isinstance(dt, T.DoubleType):
        return F.coalesce(F.hex(F.call_function(DOUBLE_BYTES, c)), F.lit("")), 8
    if isinstance(dt, T.FloatType):
        return F.coalesce(F.hex(F.call_function(FLOAT_BYTES, c)), F.lit("")), 4
    if isinstance(dt, T.DecimalType):
        return _variable(F.call_function(DECIMAL_BYTES, c))
    if isinstance(dt, T.ArrayType):
        # ListSerializer v2: 2-byte count, then a 2-byte length before each element
        elems = F.transform(c, lambda e: _prefixed(e, dt.elementType, "list element"))
        return _collection(c, "list", "elements", elems)
    if isinstance(dt, T.MapType):
        # MapSerializer v2: 2-byte count, then each key and value length-prefixed
        entries = F.transform(
            F.map_entries(c),
            lambda e: F.concat(
                _prefixed(e["key"], dt.keyType, "map key"),
                _prefixed(e["value"], dt.valueType, "map value"),
            ),
        )
        return _collection(c, "map", "entries", entries)
    if isinstance(dt, T.StructType):
        # a nested record packs like a composite key (CassandraRecordUtils.java:97-103)
        fields = [(c[f.name], f.dataType) for f in dt.fields]
        return _hex_length(_unless_null(c, composite_hex(fields, "struct field")))
    raise TypeError(f"no Cassandra serializer for column type {dt.simpleString()}")


def _unless_null(c: Column, hex_frag: Column) -> Column:
    return F.when(c.isNull(), F.lit("")).otherwise(hex_frag)


def _variable(b: Column) -> tuple[Column, Column]:
    """A binary column's hex and byte length; NULL is the empty buffer."""
    return F.coalesce(F.hex(b), F.lit("")), F.coalesce(F.octet_length(b), F.lit(0))


def _hex_length(hex_frag: Column) -> tuple[Column, Column]:
    return hex_frag, F.shiftright(F.length(hex_frag), 1)


def _u16(n: Column, message: str) -> Column:
    """``n`` as 2 big-endian bytes of hex, failing the query past 65535:
    lpad would cut the digits and write a corrupt length."""
    too_big = F.raise_error(F.concat(F.lit(message), n.cast("string")))
    return F.when(n > 65535, too_big).otherwise(F.lpad(F.hex(n), 4, "0"))


def _length_hex(c: Column, nbytes: Column | int, what: str) -> Column:
    if isinstance(nbytes, int):
        return F.when(c.isNull(), F.lit("0000")).otherwise(F.lit(format(nbytes, "04x")))
    return _u16(nbytes, f"{what} exceeds 65535 bytes: ")


def _prefixed(c: Column, dt: T.DataType, what: str) -> Column:
    hex_frag, nbytes = _hex(c, dt)
    return F.concat(_length_hex(c, nbytes, what), hex_frag)


def _collection(c: Column, kind: str, unit: str, items: Column) -> tuple[Column, Column]:
    count = _u16(F.size(c), f"{kind} exceeds 65535 {unit}: ")
    return _hex_length(_unless_null(c, F.concat(count, F.array_join(items, ""))))
