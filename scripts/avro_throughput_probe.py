"""Avro read throughput probe: the S1 source at volume.

Measures ``read_records(fmt="avro")`` (Spark's own Avro file source) at a
shape the fixture round-trip cannot: ``--rows`` records (~bench stress
grain) written as ONE container file, read back with
``spark.sql.files.maxPartitionBytes`` set to ``--split-kib`` so the file
splits across tasks, counted. Records rows/s and the split fan-out.

Run:  python scripts/avro_throughput_probe.py [--rows 1000000] [--codec deflate]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--codec", default="deflate")
    ap.add_argument("--split-kib", type=int, default=1024)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from hdfs2cass_spark.session import get_session
    from hdfs2cass_spark.sources.avro import write_avro
    from hdfs2cass_spark.sources.readers import read_records

    spark = get_session("avro-throughput-probe")
    spark.sparkContext.setLogLevel("ERROR")

    df = spark.range(args.rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("value-"), F.col("id").cast("string")).alias("v"),
        (F.col("id") % 97).cast("int").alias("bucket"),
        (F.col("id") * 1.5).alias("score"),
    )
    tmp = tempfile.mkdtemp(prefix="avro_probe_")
    path = os.path.join(tmp, "probe.avro")
    t0 = time.perf_counter()
    n = write_avro(df, path, codec=args.codec)
    t_write = time.perf_counter() - t0
    size = os.path.getsize(path)

    spark.conf.set("spark.sql.files.maxPartitionBytes", f"{args.split_kib}k")
    back = read_records(spark, path, fmt="avro")
    n_parts = back.rdd.getNumPartitions()
    back.count()  # warm (codec import, worker spin-up)
    best = float("inf")
    checksum = None
    for _ in range(3):
        t0 = time.perf_counter()
        got = back.agg(
            F.count(F.lit(1)).alias("n"), F.sum("k").alias("s")
        ).collect()[0]
        best = min(best, time.perf_counter() - t0)
        checksum = (got["n"], got["s"])
    assert checksum == (args.rows, sum(range(args.rows))), checksum
    print(
        f"rows={n:,} file={size/1e6:.1f}MB codec={args.codec} "
        f"write(driver)={t_write:.1f}s\n"
        f"read: {best:.2f}s over {n_parts} splits "
        f"({args.rows / best:,.0f} rows/s, {size / 1e6 / best:.1f} MB/s)"
    )
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
