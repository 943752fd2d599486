"""Cassandra wire-format serialization — the reference's scalar type system.

Re-expresses ``CassandraRecordUtils.toByteBuffer`` (SURVEY.md §1.3;
/root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/CassandraRecordUtils.java:80-116)
and composite partition-key composition (``getPartitionKey``/``compose``,
CassandraRecordUtils.java:230-261).

In the Spark engine this is needed only at the sink boundary (Catalyst keeps
native types until then): CQL values are encoded by ``schema_encoder`` inside
the one Arrow-batched mapInPandas of ``sinks/wire.py`` ``encode_cql_wire``.
The scalar and composite-key forms are also the differential specs that tests
hold the JVM-side key bytes (``operators/partitioning.binary_key_expr``) to.
"""

from __future__ import annotations

import struct
import uuid as _uuid
from datetime import date, datetime, timezone
from decimal import Decimal


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
        if value.tzinfo is None:
            value = value.replace(tzinfo=timezone.utc)
        return struct.pack(">q", int(value.timestamp() * 1000))
    if isinstance(value, date):
        dt = datetime(value.year, value.month, value.day, tzinfo=timezone.utc)
        return struct.pack(">q", int(dt.timestamp() * 1000))
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


def schema_encoder(dtype) -> "callable":
    """Type-directed encoder for one Spark column type — the analog of
    Cassandra resolving a TypeSerializer per declared column, not per value
    (CassandraClusterInfo fetches the table schema; serializers are bound to
    column types). Value-type inference (`to_cassandra_bytes`) stays as the
    fallback for untyped use.

    Also repairs pandas' nullable-int-to-float64 coercion: an int column that
    arrived as float via Arrow is encoded as the declared int width.
    """
    import math

    from pyspark.sql import types as T

    def _null_safe(f):
        def g(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return b""
            if type(v).__module__.startswith(("numpy", "pandas")):
                import pandas as pd

                try:
                    if pd.isna(v):  # covers NaT and numpy nan scalars
                        return b""
                except (TypeError, ValueError):
                    pass  # arrays: isna is elementwise, not a null check
            return f(v)

        return g

    if isinstance(dtype, T.IntegerType):
        return _null_safe(lambda v: struct.pack(">i", int(v)))
    if isinstance(dtype, T.LongType):
        return _null_safe(lambda v: struct.pack(">q", int(v)))
    if isinstance(dtype, (T.ShortType, T.ByteType)):
        return _null_safe(lambda v: struct.pack(">i", int(v)))
    if isinstance(dtype, T.DoubleType):
        return _null_safe(lambda v: struct.pack(">d", float(v)))
    if isinstance(dtype, T.FloatType):
        return _null_safe(lambda v: struct.pack(">f", float(v)))
    if isinstance(dtype, T.BooleanType):
        return _null_safe(lambda v: b"\x01" if v else b"\x00")
    if isinstance(dtype, T.StringType):
        return _null_safe(lambda v: str(v).encode("utf-8"))
    if isinstance(dtype, T.BinaryType):
        return _null_safe(bytes)
    if isinstance(dtype, T.TimestampType) or isinstance(dtype, getattr(T, "TimestampNTZType", ())):
        # Arrow batches hand timestamps over as pandas.Timestamp/numpy.datetime64
        def _ts(v):
            import pandas as pd

            return struct.pack(">q", int(pd.Timestamp(v).value // 1_000_000))  # ms

        return _null_safe(_ts)
    if isinstance(dtype, T.DecimalType):
        return _null_safe(to_cassandra_bytes)
    if isinstance(dtype, T.ArrayType):
        elem = schema_encoder(dtype.elementType)

        def _arr(v):
            items = list(v)
            out = [struct.pack(">H", len(items))]
            for x in items:
                eb = elem(x)
                out.append(struct.pack(">H", len(eb)) + eb)
            return b"".join(out)

        return _null_safe(_arr)
    if isinstance(dtype, T.MapType):
        kenc = schema_encoder(dtype.keyType)
        venc = schema_encoder(dtype.valueType)

        def _map(v):
            items = list(v.items()) if isinstance(v, dict) else list(v)  # Arrow: list of (k, v)
            out = [struct.pack(">H", len(items))]
            for k, val in items:
                kb = kenc(k)
                vb = venc(val)
                out.append(struct.pack(">H", len(kb)) + kb)
                out.append(struct.pack(">H", len(vb)) + vb)
            return b"".join(out)

        return _null_safe(_map)
    if isinstance(dtype, T.StructType):
        fields = [(f.name, schema_encoder(f.dataType)) for f in dtype.fields]

        def _struct(v):
            # nested records pack with the CompositeType envelope
            # (CassandraRecordUtils.java:97-103 via compose)
            getter = v.get if isinstance(v, dict) else (lambda name: v[name])
            return compose_partition_key(*(enc(getter(name)) for name, enc in fields)) if len(
                fields
            ) > 1 else fields[0][1](getter(fields[0][0]))

        return _null_safe(_struct)

    def _fallback(v):
        import numpy as np

        if isinstance(v, np.generic):
            v = v.item()
        if isinstance(v, np.ndarray):
            v = v.tolist()
        return to_cassandra_bytes(v)

    return _null_safe(_fallback)
