"""Dump the physical plan of every declared query, normalized for diffing.

Writes ``explain("formatted")`` of each ``plans.CATALOG`` query, in catalog
order, to ``OUT/<name>.txt`` plus an ``OUT/_catalog.txt`` listing the names.
The text is normalized so that two checkouts built over the same data diff
clean when (and only when) their plans agree:

  - expression ids ``#123`` -> ``#N``;
  - exchange ``plan_id=`` numbers and RDD ids (``MapPartitionsRDD[12]``, the
    RDD a ``localCheckpoint`` leaves in the plan);
  - the wall-clock "now" literal of the queries that default ``now_ms`` to
    the current time: a 13-digit (millis) or 16-digit (micros) integer within
    a day of the dump's own clock;
  - the process and thread ids in the staging directory of
    ``avro_roundtrip_customer`` (``h2c_avro_rt_<pid>_<thread id>/``).

A query whose construction raises writes ``ERROR <type>: <message>`` instead.

Usage: python scripts/plan_dump.py SF_DIR OUT
       diff -r OUT_A OUT_B   # two checkouts, same SF_DIR
"""

from __future__ import annotations

import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_DAY_MS = 86_400_000


def _now_literal(m: re.Match) -> str:
    v, now_ms = int(m.group()), time.time() * 1000
    if abs(v - now_ms) < _DAY_MS:
        return "<now_ms>"
    if abs(v - now_ms * 1000) < _DAY_MS * 1000:
        return "<now_us>"
    return m.group()


_NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b\d{13}(?:\d{3})?\b"), _now_literal),
    (re.compile(r"h2c_avro_rt_\d+_\d+"), "h2c_avro_rt_<pid>_<tid>"),
]


def normalize(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, out = sys.argv[1], sys.argv[2]
    os.makedirs(out, exist_ok=True)

    from hdfs2cass_spark.plans import CATALOG
    from hdfs2cass_spark.session import get_session

    spark = get_session("plan_dump")
    names = list(CATALOG)
    with open(os.path.join(out, "_catalog.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    errors = 0
    for name in names:
        try:
            df = CATALOG[name].fn(spark, sf_dir)
            text = normalize(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 — recorded, the dump goes on
            errors += 1
            traceback.print_exc()
            text = f"ERROR {type(e).__name__}: {str(e).partition(chr(10))[0]}\n"
        with open(os.path.join(out, f"{name}.txt"), "w") as f:
            f.write(text)
    print(f"{len(names)} plans -> {out} ({errors} errors)")
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
