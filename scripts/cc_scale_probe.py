"""Connected-components scale probe (r8 verdict item 6).

Measures rounds-to-converge and per-round time for the engine's two CC
implementations on three planted shapes, printing one JSON line:

  cliques  — 10M edges of small dense clusters (diameter <= 2): the
             near-dup/LSH workload the DEFAULT alternating-min CC
             (operators/cc.py) serves; both variants run.
  chain    — one 1000-node path (diameter 999): the adversarial shape;
             only the star variant runs (the default would need 999
             rounds — its max_iter guard exists precisely for this).
  mixed    — 10M clique edges + a ~100-block chain stitched through the
             block centers: volume AND a moderate diameter; star only
             (the stitched diameter would trip the default's guard —
             which is the point of the flip trigger).

Results are recorded in ARCHITECTURE.md "Connected components at scale"
with the flip trigger. Run: python scripts/cc_scale_probe.py [edge_count]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000

    from pyspark.sql import functions as F

    from hdfs2cass_spark.operators.cc import connected_components, connected_components_star
    from hdfs2cass_spark.session import get_session

    spark = get_session("cc-scale-probe")
    out: dict = {"edges_target": n_edges}

    def run(tag: str, fn, edges, max_iter: int) -> None:
        edges = edges.localCheckpoint(eager=True)  # exclude generation cost
        n = edges.count()
        log: list = []
        t0 = time.perf_counter()
        try:
            res = fn(edges, max_iter=max_iter, round_log=log)
            n_comp = res.select("comp").distinct().count()
            status = "converged"
        except RuntimeError:
            n_comp, status = None, f"guard-tripped@{max_iter}"
        total = time.perf_counter() - t0
        out[tag] = {
            "edges": n,
            "rounds": len(log),
            "per_round_sec": [round(t, 3) for (_, _, t) in log],
            "total_sec": round(total, 2),
            "components": n_comp,
            "status": status,
        }
        print(f"# {tag}: {out[tag]}", file=sys.stderr)

    # cliques: ids grouped in blocks of 10, ring+chords inside each block
    # (diameter <= 2 within a block) — ~n_edges total
    blocks = n_edges // 15
    base = spark.range(blocks).select(F.col("id").alias("b"))
    clique = base.select(
        F.explode(
            F.expr(
                "transform(sequence(0, 14), i -> struct("
                "b * 10 + (i % 10) AS src, b * 10 + ((i * 3 + 1) % 10) AS dst))"
            )
        ).alias("e")
    ).select("e.src", "e.dst").filter(F.col("src") != F.col("dst"))
    run("cliques_default", connected_components, clique, max_iter=50)
    run("cliques_star", connected_components_star, clique, max_iter=50)

    chain = spark.range(999).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    run("chain1000_star", connected_components_star, chain, max_iter=50)
    # demonstrate (cheaply) that the default's rounds scale with diameter:
    # a 40-chain converges at exactly 40ish rounds, a 1000-chain would not
    chain40 = spark.range(39).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    run("chain40_default", connected_components, chain40, max_iter=50)

    hi = blocks * 10
    stitch = spark.range(99).select(
        (F.col("id") * 10 + 5).alias("src"), ((F.col("id") + 1) * 10 + 5).alias("dst")
    ).filter(F.col("dst") < hi)
    mixed = clique.unionByName(stitch)
    run("mixed_star", connected_components_star, mixed, max_iter=50)

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
