"""Optimization profiler: per-query build/plan vs execute split.

For each named query at $SPARK_GRAFT_SF_DIR (default sf0.1):
  - t_build: fn(spark, dir) wall time (Python DataFrame construction)
  - t_first: first noop write (analysis+optimize+codegen+execute)
  - t_exec:  min over N subsequent noop writes of a FRESH fn() each time
             (the bench protocol: plan rebuilt per pass)
  - t_reuse: min over N noop writes of the SAME DataFrame object (plan
             cached; isolates pure execution + re-optimization)

Writes JSON to stdout; --explain also dumps explain("formatted") to
plans/profile/<name>_<tag>.txt.

Usage: python scripts/query_profile.py [--explain TAG] [--passes N] name...
       (no names = HEADLINE + PIPELINE + curate_corpus)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, PIPELINE  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    explain_tag = None
    passes = 3
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--explain":
            explain_tag = args[i + 1]
            i += 2
        elif args[i] == "--passes":
            passes = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1
    if not names:
        names = HEADLINE + PIPELINE + ["curate_corpus"]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hdfs2cass_spark.plans import CATALOG
    from hdfs2cass_spark.session import get_session

    spark = get_session("profile")
    # warm: parquet reader, codegen, Arrow workers
    warm = "/root/testdata/sf0.001"
    for name in names:
        CATALOG[name].fn(spark, warm).write.mode("overwrite").format("noop").save()

    out: dict = {}
    for name in names:
        q = CATALOG[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        if explain_tag:
            d = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "plans",
                "profile",
            )
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{name}_{explain_tag}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t_first = time.perf_counter() - t0
        execs = []
        for _ in range(passes):
            t0 = time.perf_counter()
            d2 = q.fn(spark, sf_dir)
            d2.write.mode("overwrite").format("noop").save()
            execs.append(time.perf_counter() - t0)
        reuses = []
        for _ in range(passes):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            reuses.append(time.perf_counter() - t0)
        out[name] = {
            "build": round(t_build, 4),
            "first": round(t_first, 4),
            "exec_min": round(min(execs), 4),
            "reuse_min": round(min(reuses), 4),
            "load1": round(os.getloadavg()[0], 2),
        }
        print(f"# {name}: build {t_build:.3f} first {t_first:.3f} "
              f"exec {min(execs):.3f} reuse {min(reuses):.3f}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
