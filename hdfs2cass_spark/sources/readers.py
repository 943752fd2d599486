"""Record sources and fixture table loaders.

Mirrors the reference's source surface (S1/S2, SURVEY.md §2.1:
Hdfs2Cass.java:107-108 reads a list of Avro paths; multiple --input paths are
concatenated by the source). ``read_records`` reads any Spark datasource, Avro
through Spark's own Avro file source (``AVRO_FORMAT``); ``write_avro`` writes
through the same class, one container file per partition. The fixtures are
parquet; ``load_table`` accepts one dir or many (union-by-the-source, the
reference's only union-like behavior).

The ``events`` table carries INT64 TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong=true`` Spark surfaces it as LongType
nanoseconds, which we convert to TimestampType via integer-division truncation to
microseconds — the same truncation DuckDB applies when casting ns->µs, so the
oracle sees identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs this engine depends on.

    The driver's correctness gate passes its OWN SparkSession into
    ``queries()`` — it won't have our session factory's build-time configs.
    These three are runtime-settable SQL confs, so set them defensively on
    every load: ns-timestamp parquet support (events would otherwise fail with
    PARQUET_TYPE_ILLEGAL), UTC (deterministic vs the oracle), Arrow for the
    pandas-UDF paths.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # bigger Arrow batches amortize the per-batch Python/JVM handoff of
        # the pandas/Arrow UDFs; runtime-settable, worker-memory bounded
        # (~64k rows x row width per in-flight batch)
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "65536"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in some deployment: keep going with defaults


def load_table(spark: SparkSession, sf_dir: str | list[str], name: str) -> DataFrame:
    ensure_session_confs(spark)
    dirs = [sf_dir] if isinstance(sf_dir, str) else list(sf_dir)
    paths = [f"{d.rstrip('/')}/{name}.parquet" for d in dirs]
    df = spark.read.parquet(*paths)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # ns-since-epoch long -> µs timestamp. Integer `div`, not `/`: float division
        # loses precision above 2^53 and epoch-ns is ~1.7e18. Truncation matches
        # DuckDB's ns->µs cast.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_legacy_text(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S2: read legacy tab-separated lines from text files -> (line) rows, the
    input shape operators/legacy.parse_legacy_lines consumes.

    The reference reads these as Avro-wrapped ByteBuffers
    (LegacyHdfs2Cass.java:88-89); plain text files are the Spark-native
    equivalent of the same byte stream.
    """
    p = [paths] if isinstance(paths, str) else list(paths)
    return spark.read.text(p).withColumnRenamed("value", "line")


# Spark's own Avro file source (S1). spark-sql 4.1 ships this class but
# registers no "avro" short name for it (that registration comes with the
# external spark-avro package), so `read_records` and `write_avro` name the
# class. The reference reads Avro container files
# (Hdfs2Cass.java:107-108,135-144).
AVRO_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"


def read_records(
    spark: SparkSession, paths: str | list[str], fmt: str = "parquet", **options: str
) -> DataFrame:
    """S1: the record source. Accepts one path or many — multiple --input
    paths are concatenated by the source, the reference's only union-like
    behavior (Hdfs2Cass.java:107-108,135-137).

    Any Spark datasource format works (parquet, csv, json, orc, text);
    ``options`` pass through to the reader (e.g. ``header="true"`` for CSV).
    ``fmt="avro"`` reads through Spark's Avro file source (``AVRO_FORMAT``):
    JVM decode and Spark's own split planning. It reads only ``*.avro``
    files, as Hadoop's Avro input format does, unless the caller passes a
    ``pathGlobFilter``; an input with no Avro file raises.
    """
    p = [paths] if isinstance(paths, str) else list(paths)
    if fmt == "avro":
        fmt = AVRO_FORMAT
        options = {"pathGlobFilter": "*.avro", **options}
    # pass the list, not *p: load()'s 2nd positional parameter is `format`
    return spark.read.format(fmt).options(**options).load(p)


def write_avro(df: DataFrame, path: str, codec: str = "deflate", **options: str) -> None:
    """Write ``df`` to the directory ``path`` (replacing it) as Avro container
    files, one per partition, through ``AVRO_FORMAT`` on the executors.
    ``codec`` is Spark's ``compression`` option (uncompressed, deflate,
    snappy, ...); ``options`` pass through to the writer (e.g. ``avroSchema``
    names the exact writer schema)."""
    (
        df.write.mode("overwrite")
        .format(AVRO_FORMAT)
        .option("compression", codec)
        .options(**options)
        .save(path)
    )
