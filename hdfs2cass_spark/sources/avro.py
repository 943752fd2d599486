"""Avro container writer for fixtures and round-trip tests.

Reads go through Spark's own Avro file source (``read_records(fmt="avro")``
in sources/readers.py). This module only stages files for that reader:
``write_avro`` collects a fixture-scale DataFrame and writes one container
file with the codec of sources/avrodec.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import avrodec


def spark_to_avro_schema(st: T.StructType, name: str = "record0") -> dict:
    """Catalyst struct -> avro record schema (nullable fields become
    null-unions) — the writer-side mapping for fixtures/round-trips."""

    def conv(dt: T.DataType, path: str):
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.IntegerType) or isinstance(dt, T.ShortType) or isinstance(dt, T.ByteType):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.ArrayType):
            return {"type": "array", "items": conv(dt.elementType, path + "_item")}
        if isinstance(dt, T.MapType):
            return {"type": "map", "values": conv(dt.valueType, path + "_value")}
        if isinstance(dt, T.StructType):
            return {
                "type": "record",
                "name": path,
                "fields": [
                    {"name": f.name, "type": ["null", conv(f.dataType, path + "_" + f.name)]}
                    for f in dt.fields
                ],
            }
        raise ValueError(f"no avro mapping for {dt}")

    out = conv(st, name)
    assert isinstance(out, dict) and out["type"] == "record"
    return out


def write_avro(
    df: DataFrame, path: str, codec: str = "deflate", block_records: int = 4096
) -> int:
    """Collect a (fixture-scale) DataFrame and write ONE container file —
    the test/round-trip writer, not a distributed sink (production output
    is the Cassandra sinks; the reference never writes Avro either).
    ``block_records`` sizes the container blocks (small values give a
    fixture many sync points so byte-range splits have work to divide)."""
    avsc = spark_to_avro_schema(df.schema)
    tcols = {
        f.name: f.dataType
        for f in df.schema.fields
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType))
    }

    import datetime as _dt

    epoch_date = _dt.date(1970, 1, 1)
    epoch_ts = _dt.datetime(1970, 1, 1)
    one_us = _dt.timedelta(microseconds=1)

    def conv(row: dict) -> dict:
        for c, dt in tcols.items():
            v = row[c]
            if v is None:
                continue
            if isinstance(dt, T.DateType):
                row[c] = (v - epoch_date).days
            else:
                # timedelta floor-division, NOT total_seconds()*1e6: float64
                # has ~0.5us resolution at 2000s-era epochs and int() then
                # truncates downward — fuzzing showed ~1.2% of timestamps
                # off by 1us under the float path (review round 11)
                row[c] = (v - epoch_ts) // one_us
        return row

    rows = (conv(r.asDict(recursive=True)) for r in df.collect())
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    return avrodec.write_container(
        path, avsc, rows, codec=codec, block_records=block_records
    )
