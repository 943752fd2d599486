"""hdfs2cass_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload bulkload --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: it imports the engine from ``./hdfs2cass_spark``
and nothing else, and keeps every file it writes under ``./.perfbench``.

Workloads (BENCHMARK.json says why each exists):
  bulkload   one op loads 160k songstreams records from 8 deflate Avro files:
             read_records(avro) -> bulk_load(cql, 16 reducers) -> simulated SSTables
  analytics  one op is one of seven oracle-backed relational declared queries
             over seeded sf0.02-sized tables, run in a seeded order, result collected

One process, ``local[N]`` with N = min(4, nproc), and one closed-loop client.
A run generates the inputs (``gen_s``, not a metric), then sets up: it
launches the JVM and its session and runs one cold warm-up op (one
full-size load, or every query once on small tables), so the JVM's
first-execution costs land there. ``setup_s`` is that set-up's time: the
start-up a user pays before the first full-size op. A set-up costs 20-45 s
on a 4-vCPU machine, so a run sets up once and the median over runs steadies
it. The timed window then runs ops until ``--seconds`` of op time have
passed and at least ``min_ops`` ops ran (five loads, or two rounds of the
seven queries; analytics finishes the round it is in), sampling the memory
of the JVM and its Python workers throughout; every op's output is checked
after the window. ``ops_per_s`` is the number of distinct ops (one load, or
seven queries) over the sum of their median latencies.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics. It sets up the same way, with the Spark event log on for
the whole session (``session.start_s`` is the set-up's session start). It
runs reference ops first (three loads, or one round of the seven queries),
untraced: no job groups, no layer steps. Then it runs traced ops apart from
them, each tagged with a job group: bulkload materializes each layer of its
pipeline as its own step, analytics runs one round with each query split
into build and execute spans. Each traced op's layer costs are summed and
compared with the median reference op of its kind; a gap over LAYER_GAP is
flagged. The traced run also runs the layers its workload does not reach on
small probes (the bulk-load probe on analytics; batch curation on both), so
every traced run reports every layer; compare a layer only on the workload
LAYERS lists for it. Spans go to ``.perfbench/spans/``, the full record
(environment stamp, per-op latencies, checks, layer sums) to
``.perfbench/results/``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is ``{"info": ...}``. A failed output check exits 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
LAYER_GAP = 0.10  # traced layer costs must sum to the untraced op wall within this

# One throughput figure per workload: loads/s on bulkload (rows_per_s is that
# times the 160k rows of a load, so it is in the info line only), queries/s on
# analytics. latency_p50_s is in the info line too: with one closed-loop
# client it carries what ops_per_s does. So is peak_rss_mb, the largest
# memory (PSS) of the JVM and its Python workers sampled in the window: the
# JVM grows its heap when its collector decides to, so on analytics that
# peak spreads by a third between runs of the same code.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}
# per-layer metric -> (unit, end-to-end metrics it should move, on which
# workload). The curation layers run only in the traced curation probe; on
# bulkload and analytics they should read flat.
BULK, ANALYTICS, PROBE = "bulkload", "analytics", "curation probe"
LAYERS = {
    "session.start_s": ("s", "setup_s", "all"),
    "sources.scan_s": ("s", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "sources.decode_rows_per_s": ("1/s", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "sources.splits": ("count", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "reshape.s": ("s", "ops_per_s (rows_per_s)", BULK),
    "partitioning.token_s": ("s", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "partitioning.route_s": ("s", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "partitioning.shuffle_write_bytes": ("bytes", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "partitioning.spill_bytes": ("bytes", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "partitioning.bucket_rows_max_over_median": ("ratio", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "partitioning.task_max_over_median": ("ratio", "ops_per_s (rows_per_s), latency_p50_s", BULK),
    "sinks.write_s": ("s", "ops_per_s (rows_per_s)", BULK),
    "sinks.bytes_written": ("bytes", "ops_per_s (rows_per_s), write_amp", BULK),
    "sinks.files_written": ("count", "ops_per_s (rows_per_s), write_amp", BULK),
    "sinks.write_amp": ("ratio", "ops_per_s (rows_per_s)", BULK),
    "plans.build_s": ("s", "latency_p50_s, ops_per_s (queries_per_s)", ANALYTICS),
    "plans.exec_s": ("s", "latency_p50_s, ops_per_s (queries_per_s)", ANALYTICS),
    "plans.jobs_per_op": ("count", "latency_p50_s, ops_per_s (queries_per_s)", ANALYTICS),
    "plans.stages_per_op": ("count", "latency_p50_s, ops_per_s (queries_per_s)", ANALYTICS),
    "plans.cpu_s": ("s", "latency_p50_s, ops_per_s (queries_per_s)", ANALYTICS),
    "plans.gc_s": ("s", "latency_p50_s, ops_per_s (queries_per_s)", ANALYTICS),
    "compose.stages_s": ("s", "compose+pairs+cc+pack wall", PROBE),
    "llm.near_dup_pairs": ("count", "compose+pairs+cc+pack wall", PROBE),
    "llm.pairs_s": ("s", "compose+pairs+cc+pack wall", PROBE),
    "cc.rounds": ("count", "compose+pairs+cc+pack wall", PROBE),
    "cc.s": ("s", "compose+pairs+cc+pack wall", PROBE),
    "prefixsum.pack_s": ("s", "compose+pairs+cc+pack wall", PROBE),
}


def code_stamp(root: str) -> dict:
    """The git commit when there is one, and always a digest of the engine's
    sources, so every result names the code it measured."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.sha1()
    pkg = os.path.join(root, "hdfs2cass_spark")
    for d, _, names in sorted(os.walk(pkg)):
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {"git_commit": commit, "source_sha1": h.hexdigest()}


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is going away either way
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def median_of(values):
    vals = [v for v in values if v is not None]
    return statistics.median(vals) if vals else 0.0


def start_session(conf, warmup, tracer):
    """Start a session with ``conf`` and run ``warmup`` in it. Returns
    (session, session start s, set-up s)."""
    from hdfs2cass_spark.session import get_session

    w0 = time.time()
    s0 = time.perf_counter()
    spark = get_session("perfbench", extra_conf=conf)
    s1 = time.perf_counter()
    warmup(spark)
    s2 = time.perf_counter()
    tracer.span("setup", w0, w0 + (s2 - s0), "setup", session_start_s=s1 - s0)
    return spark, s1 - s0, s2 - s0


def per_op_rate(recs) -> tuple[float, float, dict]:
    """(ops/s, p50 latency, median latency per op kind). Each kind of op
    (the load, or each query) counts once at its median latency, so a round
    of seven queries is weighed as seven ops whatever their mix."""
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        by_kind.setdefault(r.get("query", "load"), []).append(r["latency"])
    med = {k: statistics.median(v) for k, v in by_kind.items()}
    lat = [r["latency"] for r in recs]
    return len(med) / sum(med.values()), statistics.median(lat), med


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hdfs2cass_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(root, "fixtures", "tokens_lineitem.parquet")
    ):
        print("perfbench: run from the root of a checkout holding hdfs2cass_spark/ and fixtures/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(1, HERE)
    import gen
    import measure
    import workloads

    nproc = len(os.sched_getaffinity(0))
    cpus = min(4, nproc)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    load_start = os.getloadavg()
    cpu_start = cpu_times()

    import pyspark

    import hdfs2cass_spark

    if not os.path.abspath(hdfs2cass_spark.__file__).startswith(os.path.join(root, "hdfs2cass_spark")):
        print(f"perfbench: imported the engine from {hdfs2cass_spark.__file__}, not {root}",
              file=sys.stderr)
        return 2

    wl = workloads.WORKLOADS[args.workload]()
    probe = workloads.CurationProbe() if args.trace else None
    t0 = time.perf_counter()
    wl.prepare(root, work, args.seed)
    bulk_probe = None
    if args.trace:
        probe.prepare(work, args.seed)
        if args.workload != "bulkload":
            bulk_probe = workloads.Bulkload(rows=10_000, parts=2)
            bulk_probe.prepare(root, os.path.join(work, "bulk_probe"), args.seed, route_check=False)
    gen_s = time.perf_counter() - t0

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp dir: the run writes only in the checkout
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }

    tracer = measure.Tracer()
    errors: dict[str, list[str]] = {}
    attempted = 0
    spark = None
    sampler = None
    try:
        # set-up: launch the JVM and its session, then one cold warm-up op. A
        # traced run turns the Spark event log on for its whole session.
        if args.trace:
            conf.update(measure.event_log_conf(os.path.join(work, "eventlog")))
        spark, session_start, setup_s = start_session(conf, wl.launch_warmup, tracer)
        sc = spark.sparkContext
        parallelism = sc.defaultParallelism
        if parallelism > nproc:
            print(f"perfbench: defaultParallelism {parallelism} exceeds nproc {nproc}",
                  file=sys.stderr)
            return 2
        sampler = measure.RssSampler(sc._jvm.ProcessHandle.current().pid())

        # ---- timed window: one closed-loop client. A traced run runs only
        # the reference ops its traced ones are compared with.
        recs = []
        op_time = 0.0
        round_len = len(workloads.QUERIES) if args.workload == "analytics" else 1
        need = wl.reference_ops if args.trace else wl.min_ops
        sc._jvm.System.gc()  # the window starts from a collected heap
        sampler.active.set()
        for op in wl.schedule(args.seed):
            if len(recs) % round_len == 0 and len(recs) >= need and (args.trace or op_time >= args.seconds):
                break
            attempted += 1
            w0 = time.time()
            try:
                rec = wl.run_op(spark, op)
            except Exception:  # noqa: BLE001 - an op failure is counted, the run goes on
                traceback.print_exc()
                errors[op] = ["op raised"]
                rec = {"op": op, "latency": time.time() - w0, "rows": 0, "failed": True}
            tracer.span("op", w0, w0 + rec["latency"], op)
            op_time += rec["latency"]
            recs.append(rec)
        sampler.active.clear()
        peak_rss = sampler.take_peak()

        # ---- output checks, outside the timed window
        c0 = time.perf_counter()
        for name, errs in {**wl.check_ops(spark), **wl.check_run(spark)}.items():
            if name not in {r["op"] for r in recs}:
                attempted += 1
            if errs:
                errors.setdefault(name, []).extend(errs)
        check_s = time.perf_counter() - c0

        ok = [r for r in recs if not r.get("failed") and not errors.get(r["op"])]
        layers: dict = {}
        info_trace: dict = {}
        if args.trace:
            sampler.close()
            sampler = None
            layers, info_trace, n_traced = trace_run(spark, wl, probe, bulk_probe, tracer, ok, errors)
            attempted += n_traced
        c0 = time.perf_counter()
        spark.stop()
        spark = None
        if args.trace:
            ev = measure.parse_event_log(os.path.join(work, "eventlog"))
            layers["session.start_s"] = session_start
            finish_layers(layers, info_trace, ev)
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            spark.stop()
        shutdown_jvm()
    stop_s = time.perf_counter() - c0

    if ok:
        ops_per_s, p50, per_kind = per_op_rate(ok)
    else:
        ops_per_s, p50, per_kind = float("nan"), float("nan"), {}
    rows_per_op = ok[0]["rows"] if ok and args.workload == "bulkload" else None
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s,
    }
    failed = len(errors)
    correct = failed == 0
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _, _) in LAYERS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "gen_s": gen_s,
        "env": {
            "nproc": nproc,
            "local_cores": cpus,
            "default_parallelism": parallelism,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            # share of the machine's CPU time the hypervisor gave to others
            "cpu_steal_share": steal_share(cpu_start, cpu_times()),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "duckdb": __import__("duckdb").__version__,
            **code_stamp(root),
        },
        "setup": {"session_start_s": session_start, "setup_s": setup_s},
        "phases_s": {"check": check_s, "stop": stop_s, "process": time.perf_counter() - T0},
        "ops": [{k: r[k] for k in ("op", "latency", "rows")} for r in recs],
        "end_to_end": e2e,
        "median_latency_s": per_kind,
        "latency_p50_s": p50,
        "peak_rss_mb": peak_rss / 2**20,
        "rows_per_s": rows_per_op * ops_per_s if rows_per_op else None,
        "queries_per_s": ops_per_s if args.workload == "analytics" else None,
        "errors": errors,
        "error_rate": failed / max(1, attempted),
        **info_trace,
    }
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    tracer.write(os.path.join(base, "spans", f"{tag}.jsonl"))
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{tag}.json"), "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


def trace_run(spark, wl, probe, bulk_probe, tracer, ok, errors):
    """Run the workload's traced ops, then the probes for the layers it does
    not reach. Returns (layers, info, ops attempted)."""
    attempted = 0
    layers: dict = {}

    def record(name, res, errs):
        nonlocal attempted
        attempted += 1
        if errs:
            errors.setdefault(name, []).extend(errs)
        layers.update({k: v for k, v in res.get("layers", {}).items() if k not in layers})
        return res

    ops = [record(o["op"], o, o.pop("errors")) for o in wl.trace_ops(spark, tracer)]
    record("trace-curate-probe", *probe.trace_batch(spark, tracer, "probe-curate"))
    if bulk_probe is not None:
        bulk_probe.warmup(spark)  # its first load would start the Python workers
        for o in bulk_probe.trace_ops(spark, tracer, op="probe-bulk"):
            record(o["op"], o, o.pop("errors"))

    # each traced op's layer sum against the median of the untraced ops of
    # the same kind, which ran before it in the same session
    _, _, untraced = per_op_rate(ok) if ok else (0, 0, {})
    gaps = []
    for o in ops:
        key = o.get("query", "load")
        if key in untraced:
            gaps.append({"op": o["op"], "layer_sum_s": o["layer_sum"], "untraced_s": untraced[key],
                         "gap": o["layer_sum"] / untraced[key] - 1})
    flagged = [g for g in gaps if abs(g["gap"]) > LAYER_GAP]
    for g in flagged:
        print(f"perfbench: layer sum of {g['op']} is {g['gap']:+.1%} off its untraced median",
              file=sys.stderr)
    info = {"traced_ops": [{k: v for k, v in o.items() if k != "layers"} for o in ops],
            "layer_sum": gaps, "layer_sum_flagged": len(flagged),
            "layer_map": {k: {"moves": m, "on": w} for k, (_, m, w) in LAYERS.items()}}
    return layers, info, attempted


def finish_layers(layers, info, ev) -> None:
    """Fill the plan/execution and shuffle metrics from the traced ops and
    the event log."""
    ops = info["traced_ops"]
    per_op = [ev.get(o["group"], {}) for o in ops]
    layers["plans.build_s"] = median_of(o["build_s"] for o in ops)
    layers["plans.exec_s"] = median_of(o["exec_s"] for o in ops)
    layers["plans.jobs_per_op"] = statistics.mean(o["jobs"] for o in ops)
    layers["plans.stages_per_op"] = statistics.mean(o["stages"] for o in ops)
    layers["plans.cpu_s"] = median_of(e.get("cpu_s") for e in per_op)
    layers["plans.gc_s"] = median_of(e.get("gc_s") for e in per_op)
    sink = next((v for k, v in ev.items() if k.endswith(":sink")), {})
    layers["partitioning.shuffle_write_bytes"] = sink.get("shuffle_write_bytes", 0)
    layers["partitioning.spill_bytes"] = sink.get("spill_bytes", 0)
    layers["partitioning.task_max_over_median"] = sink.get("task_max_over_median", 0.0)
    info["event_log_groups"] = ev


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["bulkload", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(p.parse_args())


if __name__ == "__main__":
    sys.exit(main())
