"""CLI front-end (M3) — same flag surface as the reference.

Reference: JCommander flags on Hdfs2Cass
(/root/reference/src/main/java/com/spotify/hdfs2cass/Hdfs2Cass.java:67-94,
README.md:74-78): --input (repeatable), --output, --rowkey, --timestamp, --ttl,
--ignore (repeatable).

Additions for the offline engine: --format (parquet|avro|text), --simulated-path
(offline sink dir), --now-ms (fixed clock for reproducible writetime).

Example (the README "songstreams" scenario, README.md:20-70):
    python -m hdfs2cass_spark.cli \
        --input /data/songstreams --rowkey user_id --timestamp timestamp \
        --output 'cql://cassandra.example.net/example/songstreams?reducers=8' \
        --simulated-path /tmp/out
"""

from __future__ import annotations

import argparse
import sys

from .session import get_session
from .sinks.pipeline import bulk_load
from .sources.readers import read_records


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hdfs2cass_spark")
    p.add_argument("--input", action="append", required=True, help="input path (repeatable)")
    p.add_argument("--output", required=True, help="(cql|thrift)://host/keyspace/table?...")
    p.add_argument("--rowkey", default=None)
    p.add_argument("--timestamp", default=None)
    p.add_argument("--ttl", default=None)
    p.add_argument("--ignore", action="append", default=[])
    p.add_argument(
        "--format",
        default="parquet",
        choices=["parquet", "avro", "text", "csv", "json", "orc"],
    )
    p.add_argument(
        "--input-option",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="reader option passed to the source (repeatable), e.g. "
        "--input-option header=true --input-option inferSchema=true for CSV",
    )
    p.add_argument("--simulated-path", default=None)
    p.add_argument("--now-ms", type=int, default=None)
    p.add_argument(
        "--partitioner",
        default="murmur3",
        choices=["murmur3", "random"],
        help="target cluster partitioner; the reference reads this from live "
        "cluster metadata (CassandraClusterInfo), offline it is a flag — "
        "'random' selects the MD5/BigIntegerToken ring",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_session("hdfs2cass_spark.cli")
    # --format avro reads through Spark's own Avro file source
    # (sources/readers.py AVRO_FORMAT); no extra jar is needed
    opts = {}
    for kv in args.input_option:
        if "=" not in kv:
            raise SystemExit(f"--input-option must be KEY=VALUE, got {kv!r}")
        k, v = kv.split("=", 1)
        opts[k] = v
    df = read_records(spark, args.input, fmt=args.format, **opts)
    target = None
    if args.partitioner == "random":
        from .config import RANDOM, CassandraParams, TargetInfo

        params = CassandraParams.parse(args.output)
        target = TargetInfo(
            keyspace=params.keyspace,
            table=params.table,
            columns=list(df.columns),
            partition_key_columns=[],
            partitioner=RANDOM,
        )
    routed = bulk_load(
        df,
        output_uri=args.output,
        rowkey=args.rowkey,
        timestamp=args.timestamp,
        ttl=args.ttl,
        ignore=args.ignore,
        target=target,
        simulated_path=args.simulated_path,
        now_ms=args.now_ms,
    )
    if args.simulated_path is None:
        # no sink requested: run the plan for validation (mirrors pipeline.done()
        # returning a success/failure exit code, Hdfs2Cass.java:131-132)
        routed.write.format("noop").mode("overwrite").save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
