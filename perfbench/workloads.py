"""The benchmark workloads and the traced layer pipelines.

A workload prepares its inputs from the seed, runs one warm-up op, then runs
timed ops one after another (a single closed-loop client: the next op starts
when the previous one returned). Output checks run after the timed window.

Traced pipelines materialize each layer's output in pipeline order to a
noop sink (Spark is lazy, so a layer is visible only when its output is
computed) and record every step as a span; a layer's cost is the difference
between consecutive spans.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from measure import job_stage_counts

NOW_MS = 1_700_000_000_000  # fixed clock for rows without a timestamp
BULK_URI = "cql://bench/ks/songstreams?reducers=16"
BULK_BUCKETS = 16
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_rank_customers",
    "sessionize_events_batch",
    "asof_join_events",
    "tumbling_window_events",
]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's marker files excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _norm(v):
    import datetime
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def result_hash(columns, rows) -> str:
    """Order-independent hash of a result: column names plus the sorted
    normalized rows (the repo's oracle-test normalization)."""
    norm = sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)
    return hashlib.md5(repr((list(columns), norm)).encode()).hexdigest()


# ------------------------------------------------------------------ bulkload


def check_sink(path: str, expect_rows: int, expect_user_sum: int) -> tuple[list[str], list[int]]:
    """Checks one simulated-SSTable sink: row count and user_id sum
    preserved, one file per bucket, every row in its token's ring range
    under the seeded bucket permutation, tokens ordered within each bucket,
    and a sample of tokens equal to the reference Murmur3 token of the key.
    Returns (errors, rows per bucket)."""
    from hdfs2cass_spark.functions.murmur3 import cassandra_token
    from hdfs2cass_spark.operators.partitioning import shuffled_bucket_map

    perm = np.array(shuffled_bucket_map(BULK_BUCKETS), np.int64)
    errs: list[str] = []
    rows, user_sum, per_bucket = 0, 0, []
    dirs = sorted(glob.glob(os.path.join(path, "bucket=*")))
    if not dirs:
        return [f"no bucket directories under {path}"], []
    rng = random.Random(len(dirs))
    for d in dirs:
        b = int(d.rsplit("=", 1)[1])
        files = [f for f in glob.glob(os.path.join(d, "*")) if not os.path.basename(f).startswith((".", "_"))]
        if len(files) != 1:
            errs.append(f"bucket {b}: {len(files)} files, want one sorted file")
        n_b = 0
        for f in files:
            t = pq.read_table(f, columns=["user_id", "token", "_pk"])
            tok = t.column("token").to_numpy()
            users = t.column("user_id").to_numpy()
            if len(tok) > 1 and (np.diff(tok) < 0).any():
                errs.append(f"bucket {b}: tokens out of order in {os.path.basename(f)}")
            ring = ((tok.view(np.uint64) ^ np.uint64(1 << 63)) >> np.uint64(60)).astype(np.int64)
            bad = int((perm[ring] != b).sum())
            if bad:
                errs.append(f"bucket {b}: {bad} rows outside the bucket's ring range")
            pks = t.column("_pk")
            for i in rng.sample(range(len(tok)), min(8, len(tok))):
                pk = pks[i].as_py()
                if pk != int(users[i]).to_bytes(8, "big", signed=True):
                    errs.append(f"bucket {b}: key bytes differ from user_id at row {i}")
                elif cassandra_token(pk) != int(tok[i]):
                    errs.append(f"bucket {b}: token differs from murmur3 at row {i}")
            rows += len(tok)
            user_sum += int(users.sum())
            n_b += len(tok)
        per_bucket.append(n_b)
    if rows != expect_rows:
        errs.append(f"row count {rows}, want {expect_rows}")
    if user_sum != expect_user_sum:
        errs.append("user_id checksum differs from the input")
    return errs, per_bucket


class Bulkload:
    """read_records(avro) -> bulk_load(cql, 16 reducers) -> simulated SSTables."""

    warm_rows = 1_000
    # the first timed load runs up to a third slower than the ones after
    # it; a median of five drops it and one more outlier
    min_ops = 5
    reference_ops = 3  # untraced loads a traced run compares its traced load with
    route_scale = 0.002  # lineitem rows for the golden-token route check: 12k

    def __init__(self, rows: int = 160_000, parts: int = 8) -> None:
        self.rows, self.parts = rows, parts

    def prepare(self, root: str, work: str, seed: int, route_check: bool = True) -> None:
        self.work = work
        self.input = gen.songstreams(os.path.join(work, "in"), seed, self.rows, self.parts)
        # as many files as the timed input, so the warm-up starts as many Python workers
        self.warm = gen.songstreams(os.path.join(work, "warm"), seed + 1, self.warm_rows, self.parts)
        self.route_dir = None
        if route_check:
            self.route_dir = os.path.join(work, "route_in")
            gen.tpch_tables(
                self.route_dir, seed, os.path.join(root, "fixtures", "tokens_lineitem.parquet"),
                scale=self.route_scale, only={"lineitem"},
            )
        self.pending: list[tuple[str, str]] = []
        self.warmups = 0

    def schedule(self, seed: int):
        i = 0
        while True:
            yield f"load{i}"
            i += 1

    def _load(self, spark, paths: list[str], out: str) -> None:
        from hdfs2cass_spark.sinks.pipeline import bulk_load
        from hdfs2cass_spark.sources.readers import read_records

        df = read_records(spark, paths, fmt="avro")
        bulk_load(df, BULK_URI, rowkey="user_id", timestamp="timestamp",
                  simulated_path=out, now_ms=NOW_MS)

    def _warm_load(self, spark, paths: list[str]) -> None:
        out = os.path.join(self.work, f"warm_out{self.warmups}")
        self.warmups += 1
        self._load(spark, paths, out)
        shutil.rmtree(out, ignore_errors=True)

    def warmup(self, spark) -> None:
        """One load of small files: starts the Python workers."""
        self._warm_load(spark, self.warm["paths"])

    def launch_warmup(self, spark) -> None:
        """One full-size load: in a fresh JVM the first full-size load runs
        half again as long as the third, so it belongs to the set-up."""
        self._warm_load(spark, self.input["paths"])

    def run_op(self, spark, op: str) -> dict:
        out = os.path.join(self.work, "sink", op)
        t0 = time.perf_counter()
        self._load(spark, self.input["paths"], out)
        lat = time.perf_counter() - t0
        self.pending.append((op, out))
        return {"op": op, "latency": lat, "rows": self.rows}

    def check_ops(self, spark) -> dict[str, list[str]]:
        res = {}
        for op, out in self.pending:
            errs, _ = check_sink(out, self.rows, self.input["user_id_sum"])
            res[op] = errs
            shutil.rmtree(out, ignore_errors=True)
        self.pending = []
        return res

    def check_run(self, spark) -> dict[str, list[str]]:
        """bulk_route_lineitem against its golden-token DuckDB oracle."""
        import duckdb

        from hdfs2cass_spark.plans import CATALOG

        q = CATALOG["bulk_route_lineitem"]
        out = os.path.join(self.work, "route_out")
        q.fn(spark, self.route_dir).write.mode("overwrite").parquet(out)
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{self.route_dir}/lineitem.parquet'")
            got = f"SELECT * FROM read_parquet('{out}/*.parquet')"
            want = f"SELECT * FROM ({q.oracle})"
            n_got = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
            extra = con.sql(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
            missing = con.sql(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
        finally:
            con.close()
        shutil.rmtree(out, ignore_errors=True)
        errs = []
        if extra or missing or n_got == 0:
            errs.append(f"bulk_route_lineitem: {extra} rows not in the oracle, {missing} oracle rows missing")
        return {"bulk_route_lineitem": errs}

    def trace_ops(self, spark, tracer, op: str = "trace-load") -> list[dict]:
        return [trace_bulk(spark, tracer, op, self.input["paths"], self.rows,
                           self.input["user_id_sum"], self.input["bytes"],
                           os.path.join(self.work, "trace_sink", op))]


def trace_bulk(spark, tracer, op, paths, rows, user_sum, in_bytes, out) -> dict:
    """The bulk-load dataflow, one layer at a time: scan; +reshape; +token;
    +route; +sink. Each step rebuilds the pipeline from the files and is
    materialized once, in a session that has already run a load."""
    from hdfs2cass_spark.operators.partitioning import (
        binary_key_expr,
        route_to_buckets,
        with_token,
    )
    from hdfs2cass_spark.operators.reshape import reshape_cql
    from hdfs2cass_spark.sinks.pipeline import bulk_load
    from hdfs2cass_spark.sinks.simulated import write_simulated_sstables
    from hdfs2cass_spark.sources.readers import read_records

    sc = spark.sparkContext

    def reshaped():
        df = read_records(spark, paths, fmt="avro")
        return reshape_cql(
            df.withColumn("_pk", binary_key_expr(df, ["user_id"])),
            "user_id", "timestamp", now_ms=NOW_MS, passthrough=["_pk"],
        )

    steps = [
        ("scan", lambda: read_records(spark, paths, fmt="avro")),
        ("reshape", reshaped),
        ("token", lambda: with_token(reshaped(), "_pk")),
        ("route", lambda: route_to_buckets(reshaped(), BULK_BUCKETS, key_col="_pk")),
    ]
    root = tracer.span(op, time.time(), time.time(), op)
    cum: dict[str, float] = {}
    for name, build in steps:
        sc.setJobGroup(f"{op}:{name}", name)
        t0 = time.time()
        noop(build())
        cum[name] = time.time() - t0
        tracer.span(f"bulk.{name}", t0, t0 + cum[name], op, root)
    sc.setJobGroup(f"{op}:sink", "sink")
    t0 = time.time()
    routed = bulk_load(read_records(spark, paths, fmt="avro"), BULK_URI, rowkey="user_id",
                       timestamp="timestamp", now_ms=NOW_MS)
    t1 = time.time()
    write_simulated_sstables(routed, out)
    t2 = time.time()
    cum["sink"] = t2 - t0
    tracer.span("bulk.sink", t0, t2, op, root, build_s=t1 - t0)
    tracer.spans[root]["end"] = t2
    tracer.spans[root]["dur"] = t2 - tracer.spans[root]["start"]
    jobs, stages = job_stage_counts(sc, f"{op}:sink")
    errs, per_bucket = check_sink(out, rows, user_sum)
    written, files = dir_bytes(out)
    shutil.rmtree(out, ignore_errors=True)
    splits = read_records(spark, paths, fmt="avro").rdd.getNumPartitions()
    layers = {
        "sources.scan_s": cum["scan"],
        "sources.decode_rows_per_s": rows / cum["scan"],
        "sources.splits": splits,
        "reshape.s": cum["reshape"] - cum["scan"],
        "partitioning.token_s": cum["token"] - cum["reshape"],
        "partitioning.route_s": cum["route"] - cum["token"],
        "partitioning.bucket_rows_max_over_median": max(per_bucket) / statistics.median(per_bucket)
        if per_bucket else 0.0,
        "sinks.write_s": cum["sink"] - cum["route"],
        "sinks.bytes_written": written,
        "sinks.files_written": files,
        "sinks.write_amp": written / in_bytes,
    }
    # the layer costs are differences of consecutive steps, so they add up
    # to the last step: the whole traced load
    return {"op": op, "layers": layers, "errors": errs, "wall": cum["sink"], "build_s": t1 - t0,
            "exec_s": t2 - t1, "jobs": jobs, "stages": stages, "group": f"{op}:sink",
            "layer_sum": sum(layers[k] for k in LAYER_COSTS)}


LAYER_COSTS = ["sources.scan_s", "reshape.s", "partitioning.token_s", "partitioning.route_s",
               "sinks.write_s"]


# ----------------------------------------------------------------- analytics


class Analytics:
    """Seven oracle-backed relational declared queries over sf0.02-sized
    tables, in a seeded order, each result collected to the client."""

    scale = 0.02
    warm_scale = 0.002
    min_ops = 2 * len(QUERIES)  # two rounds: a median latency per query
    reference_ops = len(QUERIES)  # one untraced round a traced run compares with

    def prepare(self, root: str, work: str, seed: int) -> None:
        golden = os.path.join(root, "fixtures", "tokens_lineitem.parquet")
        self.work = work
        self.seed = seed
        self.tables = gen.tpch_tables(os.path.join(work, "tpch"), seed, golden, self.scale)
        self.dir = self.tables["dir"]
        self.warm_dir = gen.tpch_tables(os.path.join(work, "tpch_warm"), seed + 1, golden,
                                        self.warm_scale)["dir"]
        self.hashes: dict[str, list[tuple[str, str]]] = {}
        self.oracle: dict[str, str] = {}

    def schedule(self, seed: int):
        rng = random.Random(seed)
        i = 0
        while True:
            order = list(QUERIES)
            rng.shuffle(order)
            for q in order:
                yield f"{q}#{i}"
                i += 1

    def launch_warmup(self, spark) -> None:
        """Every query once on small tables: a fresh JVM pays each query
        shape's first-execution costs (class loading, codegen) here, not in
        the timed window."""
        from hdfs2cass_spark.plans import CATALOG

        for q in QUERIES:
            CATALOG[q].fn(spark, self.warm_dir).collect()

    def run_op(self, spark, op: str) -> dict:
        from hdfs2cass_spark.plans import CATALOG

        q = op.split("#")[0]
        t0 = time.perf_counter()
        df = CATALOG[q].fn(spark, self.dir)
        rows = df.collect()
        lat = time.perf_counter() - t0
        self.hashes.setdefault(q, []).append((op, result_hash(df.columns, rows)))
        return {"op": op, "latency": lat, "rows": len(rows), "query": q}

    def oracle_hashes(self) -> dict[str, str]:
        """Each query's DuckDB oracle result hash, computed once."""
        import duckdb

        from hdfs2cass_spark.plans import CATALOG

        todo = [q for q in QUERIES if q not in self.oracle]
        if todo:
            con = duckdb.connect()
            try:
                for t in self.tables["rows"]:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
                for q in todo:
                    rel = con.sql(CATALOG[q].oracle)
                    self.oracle[q] = result_hash(rel.columns, rel.fetchall())
            finally:
                con.close()
        return self.oracle

    def check_ops(self, spark) -> dict[str, list[str]]:
        want = self.oracle_hashes()
        res = {}
        for q, got in self.hashes.items():
            for op, h in got:
                res[op] = [] if h == want[q] else [f"{q}: result hash differs from the DuckDB oracle"]
        self.hashes = {}
        return res

    def check_run(self, spark) -> dict[str, list[str]]:
        return {}

    def trace_ops(self, spark, tracer) -> list[dict]:
        """One round in the seeded order, each query split into its build
        (the query function returns a DataFrame: driver-side planning) and
        execute (the collect) spans, with its jobs and stages read from the
        status tracker. Build and execute add up to the traced op's wall."""
        from hdfs2cass_spark.plans import CATALOG

        want = self.oracle_hashes()
        order = list(QUERIES)
        random.Random(self.seed).shuffle(order)
        out = []
        for q in order:
            op = f"trace:{q}"
            spark.sparkContext.setJobGroup(op, op)
            w0 = time.time()
            t0 = time.perf_counter()
            df = CATALOG[q].fn(spark, self.dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            root = tracer.span("op", w0, w0 + (t2 - t0), op)
            tracer.span("plans.build", w0, w0 + (t1 - t0), op, root)
            tracer.span("plans.exec", w0 + (t1 - t0), w0 + (t2 - t0), op, root)
            jobs, stages = job_stage_counts(spark.sparkContext, op)
            errs = [] if result_hash(df.columns, rows) == want[q] else [
                f"{q}: traced result hash differs from the DuckDB oracle"]
            out.append({"op": op, "errors": errs, "wall": t2 - t0, "build_s": t1 - t0,
                        "exec_s": t2 - t1, "jobs": jobs, "stages": stages, "group": op,
                        "layer_sum": (t1 - t0) + (t2 - t1), "query": q})
        return out


# ------------------------------------------------------- curation (traced)


class CurationProbe:
    """Batch curation (curate_stage_dfs -> pairs -> CC -> packing) over one
    small generated corpus. Runs only in traced mode; it supplies the
    LLM-curation layer metrics."""

    docs = 200

    def prepare(self, work: str, seed: int) -> None:
        self.work = os.path.join(work, "curation")
        self.corpus = gen.corpus(self.docs, seed)
        gen.write_corpus(self.work, self.corpus)

    def trace_batch(self, spark, tracer, op: str) -> tuple[dict, list[str]]:
        from pyspark.sql import functions as F

        from hdfs2cass_spark.operators.prefixsum import exclusive_cumsum
        from hdfs2cass_spark.plans.compose import curate_stage_dfs
        from hdfs2cass_spark.plans.llm import connected_components, near_dup_pairs_df
        from hdfs2cass_spark.plans.pipeline import PACK_BUDGET, PACK_SHARD_DOCS
        from hdfs2cass_spark.sources.readers import load_table

        sc = spark.sparkContext
        errs: list[str] = []
        root = tracer.span(op, time.time(), time.time(), op)

        sc.setJobGroup(f"{op}:stages", "stages")
        t0 = time.time()
        stages = curate_stage_dfs(load_table(spark, self.work, "documents"))
        noop(stages["clean"])
        t_stages = time.time() - t0
        sid = tracer.span("compose.stages", t0, t0 + t_stages, op, root)
        counts = {k: stages[k].count() for k in self.corpus["stages"]}
        if counts != self.corpus["stages"]:
            errs.append(f"curation stage survivors {counts}, planted {self.corpus['stages']}")

        # the near-dup sub-layers, re-measured on the materialized survivors
        pairs_dir = os.path.join(self.work, "pairs")
        sc.setJobGroup(f"{op}:pairs", "pairs")
        t0 = time.time()
        near_dup_pairs_df(stages["deduped"].select("doc_id", "text"), spread=False).select(
            "doc_a", "doc_b"
        ).write.mode("overwrite").parquet(pairs_dir)
        t_pairs = time.time() - t0
        tracer.span("llm.pairs", t0, t0 + t_pairs, op, sid)
        n_pairs = spark.read.parquet(pairs_dir).count()

        rounds: list = []
        sc.setJobGroup(f"{op}:cc", "cc")
        t0 = time.time()
        noop(connected_components(spark.read.parquet(pairs_dir), "doc_a", "doc_b", round_log=rounds))
        t_cc = time.time() - t0
        tracer.span("cc", t0, t0 + t_cc, op, sid, rounds=len(rounds))

        pack_dir = os.path.join(self.work, "packed")
        sc.setJobGroup(f"{op}:pack", "pack")
        t0 = time.time()
        toks = stages["clean"].select("doc_id", F.expr("CAST(size(ws) AS BIGINT)").alias("n_tokens"))
        exclusive_cumsum(toks, "doc_id", "n_tokens", out="start_offset",
                         shard_width=PACK_SHARD_DOCS).select(
            "doc_id", "n_tokens", "start_offset",
            F.expr(f"start_offset div {PACK_BUDGET}").alias("seq_id"),
        ).write.mode("overwrite").parquet(pack_dir)
        t_pack = time.time() - t0
        tracer.span("prefixsum.pack", t0, t0 + t_pack, op, root)
        tracer.spans[root]["end"] = t0 + t_pack
        tracer.spans[root]["dur"] = tracer.spans[root]["end"] - tracer.spans[root]["start"]
        got = sorted(tuple(r.values()) for r in pq.read_table(pack_dir).to_pylist())
        if got != [tuple(r) for r in self.corpus["packed"]]:
            errs.append("packed curation output differs from the planted corpus")
        layers = {
            "compose.stages_s": t_stages,
            "llm.near_dup_pairs": n_pairs,
            "llm.pairs_s": t_pairs,
            "cc.rounds": len(rounds),
            "cc.s": t_cc,
            "prefixsum.pack_s": t_pack,
        }
        return {"layers": layers}, errs


WORKLOADS = {"bulkload": Bulkload, "analytics": Analytics}
