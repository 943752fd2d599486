"""FIXTURES.md §A2: the full type matrix through the live pipeline.

One DataFrame with every supported scalar/collection type runs bulk_load +
wire encoding; outputs are byte-compared against the serde spec (the
reference's CassandraRecordUtilsTest differential pattern, generalized).
"""

import datetime
import struct
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hdfs2cass_spark.functions.serde import compose_partition_key, to_cassandra_bytes
from hdfs2cass_spark.sinks.pipeline import bulk_load
from hdfs2cass_spark.sinks.wire import encode_cql_wire

UTC = datetime.timezone.utc


@pytest.fixture(scope="module")
def matrix_df(spark):
    rows = [
        Row(
            rowkey="k1",
            s="héllo",
            d=1.25,
            i=7,
            big=2**40,
            b=True,
            bin=bytearray(b"\x00\x01"),
            arr=["a", "bc"],
            mp={"k": "v"},
            dec=Decimal("12.34"),
            ts=datetime.datetime(2024, 1, 2, 3, 4, 5),
            nested=Row(x=1, y="z"),
            f=1.5,
            sh=-2,
            by=3,
            day=datetime.date(2024, 1, 2),
            mpl={"n": 2**40},
            aad=[[1.5], [], [-0.0, float("inf")]],
            ntz=datetime.datetime(1969, 12, 31, 23, 59, 59, 999500),
        ),
        Row(
            rowkey="k2",
            s=None,
            d=None,
            i=None,
            big=None,
            b=None,
            bin=None,
            arr=None,
            mp=None,
            dec=None,
            ts=None,
            nested=None,
            f=None,
            sh=None,
            by=None,
            day=None,
            mpl=None,
            aad=None,
            ntz=None,
        ),
    ]
    schema = (
        "rowkey string, s string, d double, i int, big long, b boolean, "
        "bin binary, arr array<string>, mp map<string,string>, "
        "dec decimal(10,2), ts timestamp, nested struct<x:int,y:string>, "
        "f float, sh short, by byte, day date, mpl map<string,bigint>, "
        "aad array<array<double>>, ntz timestamp_ntz"
    )
    return spark.createDataFrame(rows, schema=schema)


def test_type_matrix_through_pipeline(spark, matrix_df):
    routed = bulk_load(matrix_df, "cql://h/ks/matrix?reducers=2", rowkey="rowkey", now_ms=42)
    wire = {r["pk"]: r["values"] for r in encode_cql_wire(routed).collect()}

    v = wire[b"k1"]
    # column order: rowkey, s, d, i, big, b, bin, arr, mp, dec, ts, nested,
    # f, sh, by, day, mpl, aad, ntz, +wt, +ttl
    assert v[0] == b"k1"
    assert v[1] == "héllo".encode("utf-8")
    assert v[2] == struct.pack(">d", 1.25)
    assert v[3] == struct.pack(">i", 7)  # IntegerType -> 4 bytes
    assert v[4] == struct.pack(">q", 2**40)  # LongType -> 8 bytes
    assert v[5] == b"\x01"
    assert v[6] == b"\x00\x01"
    assert v[7] == b"\x00\x02" + b"\x00\x01a" + b"\x00\x02bc"  # ListSerializer
    assert v[8] == b"\x00\x01" + b"\x00\x01k" + b"\x00\x01v"  # MapSerializer
    assert v[9] == struct.pack(">i", 2) + (1234).to_bytes(2, "big")  # scale, unscaled
    # a naive datetime enters Spark as local wall-clock time
    ts_ms = int(datetime.datetime(2024, 1, 2, 3, 4, 5).timestamp()) * 1000
    assert v[10] == struct.pack(">q", ts_ms)
    assert v[11] == compose_partition_key(struct.pack(">i", 1), b"z")
    assert v[12] == struct.pack(">f", 1.5)
    assert v[13] == struct.pack(">i", -2)  # ShortType -> 4 bytes, like int
    assert v[14] == struct.pack(">i", 3)  # ByteType -> 4 bytes
    assert v[15] == struct.pack(">q", 19724 * 86_400_000)  # 2024-01-02, 8-byte millis
    assert v[16] == b"\x00\x01" + b"\x00\x01n" + b"\x00\x08" + struct.pack(">q", 2**40)
    assert v[17] == to_cassandra_bytes([[1.5], [], [-0.0, float("inf")]])
    assert v[18] == struct.pack(">q", -1)  # wall clock as UTC, millis floored
    assert v[-2] == struct.pack(">q", 42000)  # writetime µs
    assert v[-1] == struct.pack(">i", 0)

    # every null -> empty buffer regardless of declared type
    assert all(b == b"" for b in wire[b"k2"][1:-2])


def test_unsupported_type_raises_at_encode(spark):
    # reference raises CrunchRuntimeException for unknown types
    # (CassandraRecordUtils.java:115); ours fails when the plan is built
    df = spark.createDataFrame(
        [Row(rowkey="k", weird=[[1.5]])], schema="rowkey string, weird array<array<double>>"
    )
    routed = bulk_load(df, "cql://h/ks/t?reducers=1", rowkey="rowkey", now_ms=42)
    # nested list-of-list still encodes (recursion); sanity: runs without error
    out = encode_cql_wire(routed).collect()
    assert len(out) == 1

    gap = df.select("rowkey", F.expr("INTERVAL '1' DAY").alias("gap"))
    routed = bulk_load(gap, "cql://h/ks/t?reducers=1", rowkey="rowkey", now_ms=42)
    with pytest.raises(TypeError, match="interval day"):
        encode_cql_wire(routed)


def _encode_one(spark, schema, rows):
    """The wire bytes of the one value column of each row, by row key; one
    reducer, so all rows share a task (and, before, an Arrow batch)."""
    df = spark.createDataFrame(rows, schema=f"rowkey string, v {schema}")
    routed = bulk_load(df, "cql://h/ks/t?reducers=1", rowkey="rowkey", now_ms=42)
    return {r["pk"]: bytes(r["values"][1]) for r in encode_cql_wire(routed).collect()}


_Y3000 = datetime.datetime(3000, 1, 1, tzinfo=UTC)
_INSTANT = datetime.datetime(2024, 7, 1, 12, 0, 0, 250000, tzinfo=UTC)
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=UTC)
_MS = datetime.timedelta(milliseconds=1)


@pytest.mark.parametrize(
    "schema, rows, expect, zone",
    [
        # a NULL in the batch once sent a bigint through float64: 2^53+1 -> 2^53
        ("bigint", [("k", 2**53 + 1), ("n", None)], struct.pack(">q", 2**53 + 1), None),
        # NaN is a value, not NULL (the empty buffer)
        ("double", [("k", float("nan"))], struct.pack(">d", float("nan")), None),
        ("float", [("k", float("nan"))], struct.pack(">f", float("nan")), None),
        # a NULL element is a zero-length element of a one-element list
        ("array<string>", [("k", [None])], to_cassandra_bytes([None]), None),
        # past pandas' datetime64[ns] range (2262)
        ("timestamp", [("k", _Y3000)], struct.pack(">q", (_Y3000 - _EPOCH) // _MS), None),
        # the instant, whatever the session zone
        ("timestamp", [("k", _INSTANT)], struct.pack(">q", 1719835200250), "America/Los_Angeles"),
    ],
    ids=["bigint-2^53+1-near-null", "nan-double", "nan-float", "null-element", "year-3000",
         "session-zone"],
)
def test_cql_values_are_spec_bytes(spark, schema, rows, expect, zone):
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        if zone is not None:
            spark.conf.set("spark.sql.session.timeZone", zone)
        assert _encode_one(spark, schema, rows)[b"k"] == expect
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_collection_count_over_65535_fails(spark):
    with pytest.raises(Exception, match="list exceeds 65535 elements: 65536"):
        _encode_one(spark, "array<string>", [("k", ["a"] * 65536)])


def test_target_info_supplies_rowkey(spark, sf_dir):
    from hdfs2cass_spark.config import TargetInfo

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    target = TargetInfo(
        keyspace="ks",
        table="customer",
        columns=list(cust.columns),
        partition_key_columns=["c_custkey"],
        num_nodes=3,
    )
    routed = bulk_load(cust, "cql://h/ks/customer", target=target, now_ms=42)
    # rowkey came from target metadata; reducers from node count, run in at
    # most one task per core
    buckets = {r["bucket"] for r in routed.select("bucket").distinct().collect()}
    assert len(buckets) <= 3 and max(buckets) < 3
    assert routed.rdd.getNumPartitions() == min(3, spark.sparkContext.defaultParallelism)
    r = routed.first()
    assert r["_rowkey"] == str(r["c_custkey"])
