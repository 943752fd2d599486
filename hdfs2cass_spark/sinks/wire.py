"""Sink-boundary wire encoding: logical rows -> Cassandra insert byte form.

The reference serializes every field to ByteBuffer in the map phase
(CQLRecord.java:87-95, via CassandraRecordUtils.toByteBuffer) and binds the
prepared statement ``INSERT ... VALUES (?, ...) USING TIMESTAMP ? AND TTL ?``
with timestamp/ttl appended as the LAST TWO bound values
(CQLRecord.java:49-52, CassandraClusterInfo.java:160-172).

Spark-first placement: serialization happens at the *sink boundary only* —
Catalyst keeps native types through reshape/route. The Thrift wire form is a
plain projection: reshape has already cast every name and value to string,
and ``cast(string AS binary)`` is its UTF-8 bytes. The CQL form is one
projection too: each bind value is ``functions/serde.cassandra_hex`` of its
declared column type, the serializer that also builds the partition key. So
neither form's rows leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.serde import cassandra_hex
from ..jvm import ensure_registered


def _bytes(c: Column) -> Column:
    """A string (as UTF-8) or binary column as Cassandra bytes; NULL is the
    empty buffer (CassandraRecordUtils.java:81-82)."""
    return F.coalesce(c.cast("binary"), F.lit(bytearray()))


def _pk(routed: DataFrame, key: str) -> Column:
    """Partition-key bytes: the typed `_pk` when the pipeline provides it
    (single-column typed encoding or composite envelope), else the UTF-8 of
    the display key ``key``."""
    return _bytes(F.col("_pk") if "_pk" in routed.columns else F.col(key))


def _non_null(c: Column, message: Column) -> Column:
    """``c``, failing the job with ``message`` where it is NULL: a counter
    delta or a super column name has no empty-buffer meaning."""
    return F.when(c.isNull(), F.raise_error(message)).otherwise(c)


def _cells(muts: Column) -> Column:
    """[(name, value, ts, ttl)] with name/value as bytes, ms ts and ttl kept."""
    return F.transform(
        muts,
        lambda m: F.struct(
            _bytes(m["name"]).alias("name"),
            _bytes(m["value"]).alias("value"),
            m["ts"].alias("ts"),
            m["ttl"].alias("ttl"),
        ),
    )


def _thrift(routed: DataFrame, mutations: Column) -> DataFrame:
    return routed.select(
        _pk(routed, "key").alias("pk"), "token", "bucket", mutations.alias("mutations")
    )


def encode_cql_wire(routed: DataFrame) -> DataFrame:
    """Encode a routed reshape_cql output (`_rowkey`, value cols, writetime,
    ttl, token, bucket) into bound-statement wire form.

    `values` holds the serialized bind values in column order with writetime
    and ttl appended last — exactly the reference's CQLRecord layout. Each
    value is encoded by its DECLARED column type, like Cassandra's
    per-column TypeSerializers; the USING TIMESTAMP ? AND TTL ? parameters
    are a bigint and an int.
    """
    ensure_registered(routed.sparkSession)
    meta = {"_rowkey", "_pk", "writetime", "ttl", "token", "bucket"}
    typed = [(routed[f.name], f.dataType) for f in routed.schema.fields if f.name not in meta]
    typed += [
        (routed["writetime"].cast("long"), T.LongType()),
        (routed["ttl"].cast("int"), T.IntegerType()),
    ]
    values = F.array(*(F.unhex(cassandra_hex(c, dtype)) for c, dtype in typed))
    pk = _pk(routed, "_rowkey").alias("pk")
    return routed.select(pk, "token", "bucket", values.alias("values"), "writetime", "ttl")


def encode_thrift_wire(routed: DataFrame) -> DataFrame:
    """W2: routed reshape_thrift output (key, mutations, token, bucket) ->
    wire form: one Mutation per column with name/value as Cassandra bytes,
    ms timestamp and ttl carried through (CrunchBulkRecordWriter.java:163-209;
    expiring columns keep their ttl, the writer computes expiry from it)."""
    return _thrift(routed, _cells(F.col("mutations")))


def encode_thrift_counter_wire(routed: DataFrame) -> DataFrame:
    """W2 counter wire form: (pk, token, bucket, mutations: [(name, delta)]).

    No timestamp/ttl — the counter write path assigns them
    (CrunchBulkRecordWriter.java:188-190, addCounterColumn(name, value))."""

    def cell(m: Column) -> Column:
        delta = _non_null(m["delta"], F.concat(F.lit("NULL counter delta for column "), m["name"]))
        return F.struct(_bytes(m["name"]).alias("name"), delta.alias("delta"))

    return _thrift(routed, F.transform("mutations", cell))


def encode_thrift_super_wire(routed: DataFrame) -> DataFrame:
    """W2 super-column wire form: routed reshape_thrift_super output ->
    (pk, token, bucket, mutations: [(super, [(name, value, ts, ttl)])]).

    Mirrors the reference's SUPER branch — the writer opens newSuperColumn(
    mutation.super_column.name) then adds each subcolumn as a regular or
    expiring column (CrunchBulkRecordWriter.java:174-186).
    """

    def cell(m: Column) -> Column:
        name = _non_null(m["super"], F.lit("NULL super column name")).cast("binary")
        return F.struct(name.alias("super"), _cells(m["columns"]).alias("columns"))

    return _thrift(routed, F.transform("mutations", cell))
