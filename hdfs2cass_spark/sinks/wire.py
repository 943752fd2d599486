"""Sink-boundary wire encoding: logical rows -> Cassandra insert byte form.

The reference serializes every field to ByteBuffer in the map phase
(CQLRecord.java:87-95, via CassandraRecordUtils.toByteBuffer) and binds the
prepared statement ``INSERT ... VALUES (?, ...) USING TIMESTAMP ? AND TTL ?``
with timestamp/ttl appended as the LAST TWO bound values
(CQLRecord.java:49-52, CassandraClusterInfo.java:160-172).

Spark-first placement: serialization happens at the *sink boundary only* —
Catalyst keeps native types through reshape/route. The Thrift wire form is a
plain projection: reshape has already cast every name and value to string,
and ``cast(string AS binary)`` is its UTF-8 bytes, so Thrift rows never leave
the JVM. CQL values keep one Arrow-batched mapInPandas, because Catalyst has
no bit cast for double/float and no form of Cassandra's decimal or collection
serializers; ``functions/serde.schema_encoder`` is the one typed encoder.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import serde as _serde_mod
from ..functions.serde import schema_encoder
from ..functions.shippable import pickle_by_value

# the CQL encoder closure references functions.serde — ship it by value so
# executors without this package on PYTHONPATH can still run the UDF
pickle_by_value(_serde_mod)


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
    and ttl appended last — exactly the reference's CQLRecord layout.
    """
    meta = {"_rowkey", "_pk", "writetime", "ttl", "token", "bucket"}
    value_cols = [c for c in routed.columns if c not in meta]
    # encoders are bound to the DECLARED column types (like Cassandra's
    # per-column TypeSerializers) — value-type inference would mis-encode
    # nullable int columns, which Arrow->pandas hands over as float64
    encoders = [schema_encoder(routed.schema[c].dataType) for c in value_cols]
    dtype = {c: routed.schema[c].dataType.simpleString() for c in routed.columns}
    schema = (
        f"pk binary, token {dtype['token']}, bucket {dtype['bucket']}, values array<binary>, "
        f"writetime {dtype['writetime']}, ttl {dtype['ttl']}"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = [pdf[c].to_numpy() for c in value_cols]
            wt, ttl = pdf["writetime"].to_numpy(), pdf["ttl"].to_numpy()
            # the USING TIMESTAMP ? AND TTL ? bind parameters are bigint/int —
            # fixed widths, not value-inferred
            values = [
                [enc(col[i]) for enc, col in zip(encoders, cols)]
                + [struct.pack(">q", int(wt[i])), struct.pack(">i", int(ttl[i]))]
                for i in range(len(pdf))
            ]
            out = {"pk": pdf["_pk"], "token": pdf["token"], "bucket": pdf["bucket"]}
            yield pd.DataFrame({**out, "values": values, "writetime": wt, "ttl": ttl})

    keyed = routed.select(
        *value_cols, "writetime", "ttl", "token", "bucket", _pk(routed, "_rowkey").alias("_pk")
    )
    return keyed.mapInPandas(batches, schema)


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
