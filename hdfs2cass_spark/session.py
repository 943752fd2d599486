"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a large cluster but safe on local[N]:
  - AQE on (runtime coalescing + skew-join splitting)
  - UTC session timezone (deterministic vs the DuckDB oracle)
  - Arrow enabled for the pandas-UDF paths
  - ``spark.sql.legacy.parquet.nanosAsLong=true`` because the fixture
    ``events`` table carries INT64 TIMESTAMP(NANOS) which Spark refuses
    by default; the loader converts to TimestampType (µs truncation,
    matching DuckDB's ns->µs cast).
  - speculation off: the bulk-load sink is side-effecting, mirroring the
    reference (/root/reference/src/main/java/com/spotify/hdfs2cass/Hdfs2Cass.java:100-101).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = "hdfs2cass_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize the per-batch Python/JVM handoff of the
        # pandas/Arrow UDFs (streaming state, LLM-pipeline operators); tokens,
        # wire serializers and media codecs are JVM functions: no batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.speculation", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
