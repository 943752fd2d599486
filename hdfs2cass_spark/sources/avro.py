"""Self-contained Avro source: distributed, byte-range-split container reads.

S1 fallback (SURVEY.md §2.1): the reference's primary input is Avro container
files (Hdfs2Cass.java:107-108,135-144), but Spark's Avro source lives in the
EXTERNAL spark-avro module that pip-distributed pyspark does not bundle.
`read_avro` makes `read_records(format="avro")` work with no extra jars:

  driver:   parse the first file's header only (schema + codec + sync — a
            few hundred bytes), cut every file into byte-range splits and
            pack them into tasks by Spark's own file-source rule
            (`plan_tasks`: FilePartition.maxSplitBytes + next-fit packing
            with openCostInBytes per split), so small files share a task
  plan:     ``spark.range(n_tasks)`` with one partition per task; each
            task's splits travel in the decode closure — no shuffle
  executors: each split opens its file, checks the writer schema against
            the planned one (a mismatch fails naming the file), seeks to the
            range start, scans forward to the next 16-byte sync marker, and
            decodes the blocks that START inside its range — exactly the
            Hadoop/spark-avro split contract, so a 10 GB file fans out
            across the cluster instead of serializing through one task
  output:   mapInArrow — each task decodes record by record (the compiled
            per-schema decoder of sources/avrodec.py) and yields one Arrow
            RecordBatch per container block; top-level date/timestamp
            columns are converted with exact integer Arrow casts

The decode is pure Python and slower per byte than the JVM source, which is
why `read_records` still prefers spark-avro when the jar is present and uses
this reader only as the fallback.
"""

from __future__ import annotations

import io
import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.shippable import pickle_by_value
from . import avrodec

_DEFAULT_SPLIT = 128 * 1024 * 1024


def avro_to_spark_type(schema, _depth: int = 0) -> T.DataType:
    """Avro schema -> Catalyst type, the spark-avro mapping for the subset
    this engine implements (primitives, null-unions, records, arrays, maps,
    enums/fixed, date + timestamp-millis/micros logical types).

    Temporal logical types map to DateType/TimestampType only for the
    TOP-LEVEL columns of the file's record (where the batch assembly in
    read_avro converts the decoded raw ints column-wise); a temporal
    NESTED inside a record/array/map keeps its underlying int/long, so the
    declared schema always matches the decoded values — declaring
    TimestampType there while yielding raw millis would let pyarrow coerce
    them as MICROseconds, a silent 1000x corruption (review round 11)."""
    schema = avrodec.parse_schema(schema)
    if isinstance(schema, list):  # union
        non_null = [b for b in schema if avrodec._schema_type(avrodec.parse_schema(b)) != "null"]
        if len(non_null) != 1:
            raise ValueError("only unions of null + one type are supported")
        return avro_to_spark_type(non_null[0], _depth)
    if isinstance(schema, str):
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
            "null": T.NullType(),
        }
        if schema in prim:
            return prim[schema]
        raise ValueError(f"unsupported avro type {schema!r}")
    t = schema["type"]
    logical = schema.get("logicalType")
    if t in ("int", "long"):
        # depth 1 = a direct field of the top-level record (docstring)
        if _depth == 1:
            if logical == "date":
                return T.DateType()
            if logical in ("timestamp-millis", "timestamp-micros"):
                return T.TimestampType()
        return T.IntegerType() if t == "int" else T.LongType()
    if t in ("bytes", "string", "boolean", "float", "double"):
        return avro_to_spark_type(t, _depth)
    if t == "record":
        return T.StructType(
            [
                T.StructField(f["name"], avro_to_spark_type(f["type"], _depth + 1), True)
                for f in schema["fields"]
            ]
        )
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        return T.ArrayType(avro_to_spark_type(schema["items"], _depth + 1), True)
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_type(schema["values"], _depth + 1), True)
    raise ValueError(f"unsupported avro type {t!r}")


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


def _temporal_columns(schema) -> dict[str, str]:
    """field name -> logicalType for top-level temporal fields (decoded as
    raw ints; cast column-wise once the block's arrays are built)."""
    schema = avrodec.parse_schema(schema)
    out = {}
    for f in schema["fields"]:
        ft = avrodec.parse_schema(f["type"])
        if isinstance(ft, list):
            nn = [b for b in ft if avrodec._schema_type(avrodec.parse_schema(b)) != "null"]
            ft = avrodec.parse_schema(nn[0]) if len(nn) == 1 else None
        if isinstance(ft, dict) and ft.get("logicalType") in (
            "date",
            "timestamp-millis",
            "timestamp-micros",
        ):
            out[f["name"]] = ft["logicalType"]
    return out


def _parse_byte_size(
    s: str | None, default: int = _DEFAULT_SPLIT, key: str = "spark.sql.files.maxPartitionBytes"
) -> int:
    """Spark byte-size string -> bytes (the JVM byteStringAsBytes subset:
    plain digits or digits + b/k/kb/m/mb/g/gb, case-insensitive). The old
    ``int(s.rstrip('b'))`` silently fell back to 128MB on '16m'-style
    values, ignoring the user's fan-out tuning (review round 11); an
    unparseable value still falls back to ``default``, but loudly."""
    if not s:
        return default
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?b?)\s*", str(s).lower())
    if not m:
        import warnings

        warnings.warn(f"unparseable {key} {s!r}; using {default} bytes", stacklevel=2)
        return default
    mult = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
            "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
            "t": 1 << 40, "tb": 1 << 40}[m.group(2)]
    return int(m.group(1)) * mult


def plan_splits(paths: list[str], split_bytes: int) -> list[tuple[str, int, int]]:
    """Byte-range splits of at most ``split_bytes`` per file, from file
    sizes alone. Returns [(path, start, end)] covering every byte of every
    file."""
    splits = []
    for p in sorted(paths):
        size = os.path.getsize(p)
        start = 0
        while start < size:
            splits.append((p, start, min(start + split_bytes, size)))
            start += split_bytes
    return splits


def plan_tasks(
    spark: SparkSession, paths: list[str], split_bytes: int | None = None
) -> list[list[tuple[str, int, int]]]:
    """Group the byte-range splits into tasks by Spark's file-source rule
    (FilePartition.maxSplitBytes and getFilePartitions): splits of
    ``min(maxPartitionBytes, max(openCostInBytes, totalBytes /
    minPartitionNum))``, where every file counts ``openCostInBytes`` on top
    of its size, packed largest first, next-fit, each split charged its
    length plus ``openCostInBytes``. ``split_bytes`` stands in for
    ``maxPartitionBytes``."""
    conf = spark.conf
    if split_bytes is None:
        split_bytes = _parse_byte_size(conf.get("spark.sql.files.maxPartitionBytes", None))
    key = "spark.sql.files.openCostInBytes"
    open_cost = _parse_byte_size(conf.get(key, None), 4 << 20, key)
    min_parts = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    total = sum(os.path.getsize(p) + open_cost for p in paths)
    max_split = min(split_bytes, max(open_cost, total // min_parts))
    splits = sorted(plan_splits(paths, max_split), key=lambda s: s[2] - s[1], reverse=True)
    tasks, task, size = [], [], 0
    for split in splits:
        length = split[2] - split[1]
        if task and size + length > max_split:
            tasks.append(task)
            task, size = [], 0
        task.append(split)
        size += length + open_cost
    if task:
        tasks.append(task)
    return tasks


def _expand_paths(paths: str | list[str]) -> list[str]:
    out = []
    for p in [paths] if isinstance(paths, str) else list(paths):
        if os.path.isdir(p):
            out.extend(
                os.path.join(p, f)
                for f in sorted(os.listdir(p))
                if f.endswith(".avro") and not f.startswith((".", "_"))
            )
        else:
            out.append(p)
    if not out:
        raise FileNotFoundError(f"no .avro files under {paths!r}")
    return out


def read_avro(
    spark: SparkSession,
    paths: str | list[str],
    split_bytes: int | None = None,
) -> DataFrame:
    """Read Avro container files into a DataFrame with no external jars —
    see the module docstring for the split/scan architecture. All files
    must share one writer schema (the first file's — the reference unions
    same-schema inputs, Hdfs2Cass.java:107-108); a task that opens a file
    with another schema fails the read, naming the file."""
    files = _expand_paths(paths)
    with open(files[0], "rb") as f:
        schema = avrodec.read_header(f)["schema"]
    if avrodec._schema_type(schema) != "record":
        raise ValueError("top-level avro schema must be a record")
    spark_schema = avro_to_spark_type(schema)
    assert isinstance(spark_schema, T.StructType)
    out_schema = to_arrow_schema(spark_schema)
    names = spark_schema.fieldNames()
    temporals = {names.index(c): lt for c, lt in _temporal_columns(schema).items()}
    # each top-level temporal is built from its raw int, then cast
    raw_types = [
        pa.int64() if i in temporals else out_schema.field(i).type for i in range(len(names))
    ]
    tasks = plan_tasks(spark, files, split_bytes)
    first = files[0]

    pickle_by_value(avrodec)

    def decode_block(payload: bytes, n: int, dec) -> pa.RecordBatch:
        buf = io.BytesIO(payload)
        rows = [dec(buf) for _ in range(n)]
        if buf.tell() != len(payload):
            raise ValueError(f"avro block of {n} records leaves trailing bytes")
        cols = [pa.array([r[c] for r in rows], t) for c, t in zip(names, raw_types)]
        for i, lt in temporals.items():
            if lt == "date":
                cols[i] = cols[i].cast(pa.int32()).cast(pa.date32())
            else:
                us = cols[i]
                if lt == "timestamp-millis":
                    us = pc.multiply_checked(us, 1000)
                cols[i] = us.cast(out_schema.field(i).type)
        return pa.RecordBatch.from_arrays(cols, schema=out_schema)

    def decode_tasks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dec = avrodec.compile_decoder(schema)
        for batch in batches:
            for task in batch.column(0).to_pylist():
                for path, start, end in tasks[task]:
                    with open(path, "rb") as f:
                        hdr = avrodec.read_header(f)
                        if hdr["schema"] != schema:
                            raise ValueError(
                                f"{path}: writer schema differs from {first}'s, "
                                "the schema this read was planned with"
                            )
                        for payload, n in avrodec.iter_file_blocks(f, hdr, start, end):
                            yield decode_block(payload, n, dec)

    return spark.range(len(tasks), numPartitions=max(len(tasks), 1)).mapInArrow(
        decode_tasks, spark_schema
    )


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
