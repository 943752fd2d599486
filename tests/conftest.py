from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from hdfs2cass_spark.session import get_session

    s = get_session(
        "hdfs2cass_spark-tests",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")),
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def jvm_call(spark):
    """``jvm_call(name, *args)`` runs one of the package's Java functions in
    one Spark job and returns its result per row, in order: each list
    argument is a binary column (one row per element), any other argument
    a literal."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark import jvm

    jvm.ensure_registered(spark)

    def call(name, *args):
        columns = [a for a in args if isinstance(a, list)]
        schema = ", ".join(["i int"] + [f"c{j} binary" for j in range(len(columns))])
        rows = [(i, *(c[i] for c in columns)) for i in range(len(columns[0]))]
        names = iter(range(len(columns)))
        exprs = [F.col(f"c{next(names)}") if isinstance(a, list) else F.lit(a) for a in args]
        df = spark.createDataFrame(rows, schema)
        out = df.select("i", F.call_function(name, *exprs).alias("out")).collect()
        return [r["out"] for r in sorted(out, key=lambda r: r["i"])]

    return call
