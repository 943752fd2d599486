"""Thrift wire form (W2) as column expressions: byte-exact against the
reshaped rows, no Python node in the plan, loud failures on NULLs that have
no wire meaning."""

import re

import pytest
from pyspark.sql import functions as F

from hdfs2cass_spark.config import RANDOM
from hdfs2cass_spark.operators.partitioning import route_to_buckets
from hdfs2cass_spark.operators.reshape import (
    reshape_cql,
    reshape_thrift,
    reshape_thrift_counters,
    reshape_thrift_super,
)
from hdfs2cass_spark.sinks.wire import (
    encode_cql_wire,
    encode_thrift_counter_wire,
    encode_thrift_super_wire,
    encode_thrift_wire,
)

NOW_MS = 42

# empty key, NULL key, NULL values, non-ASCII text, a double whose string
# form is exponent notation
ROWS = [
    ("u1", 7, 1e20, "naïve ✓"),
    ("", None, None, None),
    (None, 3, 0.5, ""),
    ("ü", -1, None, "x"),
]
SCHEMA = "user string, plays long, score double, note string"


def _route(shaped, partitioner, typed_pk):
    """Route on the key bytes; ``typed_pk`` carries them as `_pk` (the
    pipeline's typed key), otherwise the wire derives pk from `key`."""
    kb = "_pk" if typed_pk else "_kb"
    keyed = shaped.withColumn(kb, F.col("key").cast("binary"))
    return route_to_buckets(keyed, 2, kb, partitioner=partitioner, shuffle_seed=None)


def _utf8(s):
    return b"" if s is None else s.encode("utf-8")


def _expected_pk(r, typed_pk):
    return bytes(r["_pk"]) if typed_pk and r["_pk"] is not None else _utf8(r["key"])


def _cells(cols):
    return [(_utf8(c["name"]), _utf8(c["value"]), c["ts"], c["ttl"]) for c in cols]


def _got_cells(cols):
    return [(bytes(c["name"]), bytes(c["value"]), c["ts"], c["ttl"]) for c in cols]


def _assert_wire(routed, encoded, typed_pk, expect_muts, got_muts):
    want = sorted(
        (_expected_pk(r, typed_pk), r["token"], r["bucket"], expect_muts(r["mutations"]))
        for r in routed.collect()
    )
    got = sorted(
        (bytes(r["pk"]), r["token"], r["bucket"], got_muts(r["mutations"]))
        for r in encoded.collect()
    )
    assert got == want
    assert encoded.columns == ["pk", "token", "bucket", "mutations"]


@pytest.mark.parametrize("partitioner", [None, RANDOM])
@pytest.mark.parametrize("typed_pk", [False, True])
def test_thrift_wire_bytes_match_reshaped_rows(spark, partitioner, typed_pk):
    df = spark.createDataFrame(ROWS, SCHEMA)

    routed = _route(reshape_thrift(df, rowkey="user", now_ms=NOW_MS), partitioner, typed_pk)
    _assert_wire(routed, encode_thrift_wire(routed), typed_pk, _cells, _got_cells)

    shaped = reshape_thrift_counters(df.select("user", "plays").fillna(0), rowkey="user")
    routed = _route(shaped, partitioner, typed_pk)
    _assert_wire(
        routed,
        encode_thrift_counter_wire(routed),
        typed_pk,
        lambda ms: [(_utf8(m["name"]), m["delta"]) for m in ms],
        lambda ms: [(bytes(m["name"]), m["delta"]) for m in ms],
    )

    shaped = reshape_thrift_super(
        df.fillna("day", ["note"]), rowkey="user", super_col="note", now_ms=NOW_MS
    )
    routed = _route(shaped, partitioner, typed_pk)
    _assert_wire(
        routed,
        encode_thrift_super_wire(routed),
        typed_pk,
        lambda ms: [(_utf8(m["super"]), _cells(m["columns"])) for m in ms],
        lambda ms: [(bytes(m["super"]), _got_cells(m["columns"])) for m in ms],
    )
    if partitioner == RANDOM:
        assert isinstance(routed.first()["token"], str)


def test_wire_plans_python_nodes(spark):
    """The Thrift and CQL encoders run inside the JVM: no plan node starts a
    Python worker."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    python = r"MapInPandas|ArrowEvalPython|BatchEvalPython"

    def plan(encoded):
        return encoded._jdf.queryExecution().executedPlan().toString()

    for encode, shaped in (
        (encode_thrift_wire, reshape_thrift(df, rowkey="user", now_ms=NOW_MS)),
        (
            encode_thrift_counter_wire,
            reshape_thrift_counters(df.select("user", "plays"), rowkey="user"),
        ),
        (
            encode_thrift_super_wire,
            reshape_thrift_super(df, rowkey="user", super_col="note", now_ms=NOW_MS),
        ),
    ):
        p = plan(encode(_route(shaped, None, True)))
        assert not re.search(python, p), p
    cql = reshape_cql(df, rowkey="user", now_ms=NOW_MS).withColumn(
        "_pk", F.col("_rowkey").cast("binary")
    )
    p = plan(encode_cql_wire(route_to_buckets(cql, 2, "_pk")))
    assert not re.search(python, p), p


def test_null_super_column_name_fails(spark):
    df = spark.createDataFrame([("u1", None, 1)], "user string, day string, plays int")
    shaped = reshape_thrift_super(df, rowkey="user", super_col="day", now_ms=NOW_MS)
    with pytest.raises(Exception, match="NULL super column name"):
        encode_thrift_super_wire(_route(shaped, None, True)).collect()


def test_null_counter_delta_fails_naming_column(spark):
    df = spark.createDataFrame([("u1", 3, None)], "user string, plays long, skips long")
    shaped = reshape_thrift_counters(df, rowkey="user")
    with pytest.raises(Exception, match="NULL counter delta for column skips"):
        encode_thrift_counter_wire(_route(shaped, None, True)).collect()
