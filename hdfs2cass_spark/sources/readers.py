"""Fixture table loaders.

Mirrors the reference's source surface (S1/S2, SURVEY.md §2.1:
/root/reference/src/main/java/com/spotify/hdfs2cass/Hdfs2Cass.java:107-108 reads a
list of Avro paths; multiple --input paths are concatenated by the source). Here the
fixtures are parquet; ``load_table`` accepts one dir or many (union-by-the-source,
the reference's only union-like behavior).

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
        # bigger Arrow batches amortize the per-batch Python/JVM handoff in
        # the token UDF (~7% on bulk routing); runtime-settable, worker-memory
        # bounded (~64k rows x row width per in-flight batch)
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


# spark-avro is an EXTERNAL Spark module (not bundled with pip pyspark); on a
# real cluster ship it with either of:
#   spark-submit --packages org.apache.spark:spark-avro_2.13:<spark-version>
#   spark.jars.packages=org.apache.spark:spark-avro_2.13:<spark-version>
# The reference reads Avro container files (Hdfs2Cass.java:107-108,135-144);
# with the jar present `--format avro` runs the identical dataflow.
AVRO_PACKAGE = "org.apache.spark:spark-avro_2.13"


def _probe_avro(spark: SparkSession) -> bool:
    try:
        spark.read.format("avro").load("/nonexistent-avro-probe")
        return True  # pragma: no cover
    except Exception as e:
        return "FAILED_FIND_AVRO_DATA_SOURCE" not in str(e) and "Failed to find" not in str(e)


# applicationId -> probe result: the jar set is fixed for an application's
# life, and each probe raises and catches a py4j exception (~57 ms)
_AVRO_SUPPORT: dict[str, bool] = {}


def has_avro_support(spark: SparkSession) -> bool:
    """The Avro source (S1) is an external Spark module; the pip pyspark
    distribution may not bundle spark-avro. Callers use parquet/text when
    absent — same dataflow, different container format. Probed once per
    SparkContext."""
    app = spark.sparkContext.applicationId
    if app not in _AVRO_SUPPORT:
        _AVRO_SUPPORT[app] = _probe_avro(spark)
    return _AVRO_SUPPORT[app]


def read_records(
    spark: SparkSession, paths: str | list[str], fmt: str = "parquet", **options: str
) -> DataFrame:
    """S1: the record source. Accepts one path or many — multiple --input
    paths are concatenated by the source, the reference's only union-like
    behavior (Hdfs2Cass.java:107-108,135-137).

    Any Spark datasource format works (parquet, csv, json, orc, text);
    ``options`` pass through to the reader (e.g. ``header="true"`` for CSV).
    `fmt="avro"` prefers the native spark-avro module (external jar,
    JVM-speed decode) and falls back to the built-in container reader
    (sources/avro.py — byte-range-split, per-record decode, mapInArrow, no
    jars) when the module is absent, so the reference's primary input
    format runs anywhere.
    """
    p = [paths] if isinstance(paths, str) else list(paths)
    if fmt == "avro" and not has_avro_support(spark):
        if options:
            # the built-in reader has no option surface — honoring some
            # options with the jar and silently dropping them without it
            # would make the same call behave differently per environment
            raise ValueError(
                "reader options are not supported by the built-in Avro "
                f"fallback (got {sorted(options)}); install the spark-avro "
                "module or drop the options"
            )
        from .avro import read_avro

        return read_avro(spark, p)
    # pass the list, not *p: load()'s 2nd positional parameter is `format`
    return spark.read.format(fmt).options(**options).load(p)
