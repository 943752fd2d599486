"""Connected components over an undirected edge list -> (node, comp), where
comp = min node id in the component. Isolated self-loops are ignored.

Two algorithms, one contract (loud RuntimeError on non-convergence, never
unconverged labels), chosen by GRAPH DIAMETER (ARCHITECTURE.md "Connected
components at scale"):

- ``connected_components`` (the default): alternating-min label propagation.
  Each round every node takes the min label among itself and its neighbors:
  one shuffle per round, O(diameter) rounds. The engine's own graphs
  (near-dup / LSH / embedding clusters) have diameter 2-4, so this is 2-4
  rounds in practice and the plans stay simple to audit.
- ``connected_components_star``: large-star/small-star (Kiveris et al. 2014,
  "Connected Components in MapReduce and Beyond", SoCC), O(log d) rounds at
  two shuffles each — the shape for long-path components (record-linkage
  chains, citation trails). Equality-tested against the default on random
  graphs, chains and stars (tests/test_cc_star.py).

THE FLIP: rounds scale with diameter, and the r9 scale probe
(scripts/cc_scale_probe.py) recorded ~15 rounds as the crossover. After
``FLIP_AFTER`` unconverged rounds the default hands its CURRENT labels to
the star algorithm as shortcut edges (node -> min label reachable so far,
within-component by construction), so the rounds already spent become
distance-halving shortcuts instead of waste.

Star rounds work over an edge set kept oriented child > parent:

  large-star: for every node u, connect every STRICTLY LARGER neighbor v
    to m = min(N(u) + {u}). Never increases the edge count; strictly
    shrinks the potential Σ depth.
  small-star: for every node u, connect every neighbor v <= u (and u
    itself) to m = min of that closed smaller-neighborhood.

Both emit (big, small) pairs only, dropping self-pairs; iteration stops
when the edge set is UNCHANGED (count + order-independent xxhash64
checksum — collision-improbable, not an exact identity; see _checksum).
At the fixpoint the edge set is a star forest: (node, root) plus the roots.

Scale shape: every round of either algorithm is map-side-combined
groupBy-node shuffles over the edge list, with no broadcast that scales with
the graph and no driver state beyond a scalar or two per round.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ckpt import release_checkpoint
from .text import BAND_CAND_SQL, JACCARD_COMMON_SQL

# alternating-min rounds before the default hands off to the star algorithm
FLIP_AFTER = 15


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    round_log: list | None = None,
) -> DataFrame:
    """(node, comp) via alternating-min label propagation, flipping to
    ``connected_components_star`` after ``FLIP_AFTER`` unconverged rounds.

    The loop is driver-side but the data never leaves the cluster: the
    driver reads one scalar convergence count per round. ``round_log``, when
    a list, receives one (round_idx, changed_labels, seconds) tuple per
    round; a flip appends a ("flip_to_star", rounds_spent, 0.0) marker and
    the star rounds follow. Raises RuntimeError if the labels have not
    converged after ``max_iter`` rounds.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # eager localCheckpoint each round: materializes the new labels AND
    # truncates the lineage, so round N's plan never replays rounds 1..N-1
    # (with plain persist the DAG still deepens and the convergence count
    # replays the whole chain — measured minutes on a 30-round graph).
    # Superseded rounds are released EXPLICITLY (r9: relying on the
    # ContextCleaner meant up to max_iter label-table copies could sit in
    # executor block storage until a GC happened to run).
    #
    # Round 0 folds the identity-label table away (r13): with comp(node) =
    # node, the neighbor-min join against the label table is an identity
    # join and the node list is distinct(a) by symmetry — so the first
    # round is ONE aggregate over sym (least(a, min(b))), and the separate
    # nodes-distinct checkpoint job disappears. Rounds >= 1 are unchanged.
    ckpt = None
    comps = None
    frontier = None
    converged = False
    for _round in range(max_iter):
        _t0 = time.perf_counter() if round_log is not None else 0.0
        if comps is None:
            updated = (
                sym.groupBy(F.col("a").alias("node"))
                .agg(F.min("b").alias("ncomp"))
                .select(
                    "node",
                    F.least(F.col("node"), F.col("ncomp")).alias("comp"),
                    (F.col("ncomp") < F.col("node")).alias("_changed"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            # FRONTIER propagation (r14, r13 verdict item 3): a node's label
            # can only fall via a neighbor whose label CHANGED last round —
            # an unchanged neighbor's label was already folded in when it
            # last changed (labels are monotone non-increasing), so re-
            # reading it is a no-op. Joining sym against only the changed
            # rows (semi-naive/delta evaluation) shrinks the per-round
            # exchange from |edges|+|nodes| rows to the edges incident to
            # the frontier — on low-diameter dedup graphs the frontier
            # collapses after round 1 and later rounds shuffle almost
            # nothing. `frontier` reads the PREVIOUS round's materialized
            # checkpoint, so the filter costs no recompute.
            neighbor_min = (
                sym.join(frontier, sym.b == frontier.node)
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("comp").alias("ncomp"))
            )
            updated = (
                comps.join(neighbor_min, "node", "left")
                .select(
                    "node",
                    F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias("comp"),
                    (F.col("ncomp") < F.col("comp")).alias("_changed"),
                )
                .localCheckpoint(eager=True)
            )
        changed = updated.filter(F.col("_changed")).count()
        if round_log is not None:
            round_log.append((_round, changed, time.perf_counter() - _t0))
        # release the CHECKPOINTED handle, not the derived projection — the
        # unpersist accessor needs the LogicalRDD at the plan root
        if ckpt is not None:
            release_checkpoint(ckpt)  # superseded: `updated` is materialized
        ckpt = updated
        comps = updated.drop("_changed")
        # next round's delta: only these labels can still push a neighbor
        # down (reads the checkpoint just materialized — no recompute)
        frontier = updated.filter(F.col("_changed")).select("node", "comp")
        if changed == 0:
            converged = True
            break
        if _round + 1 >= FLIP_AFTER:
            # High-diameter graph (the recorded ~15-round crossover): hand
            # off to the O(log d) star algorithm, seeding it with the
            # original edges PLUS the partial labels as shortcut edges —
            # (node -> current comp) is within-component by construction
            # (comp = min label reachable so far), so the rounds already
            # spent become distance-halving shortcuts instead of waste.
            if round_log is not None:
                round_log.append(("flip_to_star", _round + 1, 0.0))
            shortcuts = comps.filter(F.col("node") != F.col("comp")).select(
                F.col("node").alias("a"), F.col("comp").alias("b")
            )
            seeded = sym.select("a", "b").unionByName(shortcuts)
            out = connected_components_star(
                seeded, "a", "b", max_iter=max_iter, round_log=round_log
            )
            # star eagerly checkpointed its own working tables at entry, so
            # the label table and edge table feeding `seeded` are free now
            release_checkpoint(ckpt)
            release_checkpoint(sym)
            return out
    release_checkpoint(sym)  # the loop is done with the edge table
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds, "
            f"before the hand-off to connected_components_star at round "
            f"{FLIP_AFTER}; raise max_iter"
        )
    return comps.select("node", "comp")


def _star_round(e: DataFrame, small: bool) -> DataFrame:
    """One large-star (small=False) or small-star (small=True) pass over an
    oriented (u, v) edge set (both orientations are built here, so callers
    keep e deduplicated child>parent). Returns the new oriented edge set."""
    sym = e.select(F.col("u").alias("n"), F.col("v").alias("nb")).unionByName(
        e.select(F.col("v").alias("n"), F.col("u").alias("nb"))
    )
    if small:
        nbrs = sym.filter(F.col("nb") <= F.col("n"))
    else:
        nbrs = sym
    # m = min over the CLOSED neighborhood (n included; for the small pass
    # every kept nb < n, so the least() is a no-op there)
    m = nbrs.groupBy("n").agg(F.min("nb").alias("_mn")).select(
        "n", F.least(F.col("_mn"), F.col("n")).alias("m")
    )
    joined = nbrs.join(m, "n")
    if small:
        # connect every v <= u AND u itself to m
        out = joined.select(F.col("nb").alias("u"), F.col("m").alias("v")).unionByName(
            m.select(F.col("n").alias("u"), F.col("m").alias("v"))
        )
    else:
        # connect every v > u to m
        out = joined.filter(F.col("nb") > F.col("n")).select(
            F.col("nb").alias("u"), F.col("m").alias("v")
        )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _checksum(e: DataFrame) -> tuple[int, int]:
    """(count, order-independent xxhash64 sum) — a collision-improbable
    fingerprint of the edge set for the convergence test, NOT an exact
    identity: two different edge sets with equal count could in principle
    collide on the hash sum (~2^-64 per comparison). Acceptable here because
    star rounds are monotone (labels only decrease), so a spurious "equal"
    would stop one round early on an already-near-converged set; exact
    comparison (exceptAll().isEmpty()) would cost an extra join per round."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: summing raw int64 hashes overflows ANSI mode
        F.coalesce(
            F.sum(F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    round_log: list | None = None,
) -> DataFrame:
    """(node, comp) via large-star/small-star — O(log d) rounds.
    ``round_log`` receives (round_idx, edge_count, seconds) per round when a
    list. Raises RuntimeError if the edge set still changes after
    ``max_iter`` rounds."""
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _checksum(e)
    converged = False
    for _round in range(max_iter):
        t0 = time.perf_counter()
        new_e = _star_round(_star_round(e, small=False), small=True).localCheckpoint(
            eager=True
        )
        new_sig = _checksum(new_e)
        if round_log is not None:
            round_log.append((_round, new_sig[0], time.perf_counter() - t0))
        release_checkpoint(e)
        e, sig_prev, sig = new_e, sig, new_sig
        if new_sig == sig_prev:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iter} "
            "rounds; raise max_iter"
        )
    # fixpoint edge set is a star forest: every non-root points at its root.
    # The FINAL e/nodes checkpoints are NOT released here — the returned
    # plan references them and a truncated-lineage checkpoint cannot be
    # recomputed; their blocks die with the caller's reference (only
    # superseded per-round state is eagerly freed above).
    return nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("comp")), "node", "left"
    ).select("node", F.coalesce(F.col("comp"), F.col("node")).alias("comp"))


# DuckDB twin of the near-dup clustering: the LSH-band + Jaccard-verify +
# transitive-closure CTE chain (assumes the sh/m minhash CTEs are already in
# scope; must sit under a WITH RECURSIVE): verified pairs -> symmetric edges
# -> reachability -> keeper = min doc_id reachable, exactly the
# alternating-min fixpoint connected_components converges to. Shared
# verbatim by the dedup_clusters oracle (over documents) and the
# curate_corpus oracle (over the exact-dedup survivors).
CLUSTER_EDGES_FRAGMENT = f"""
{BAND_CAND_SQL},
{JACCARD_COMMON_SQL},
    verified AS (
      SELECT doc_a, doc_b FROM common
      JOIN n na ON na.doc_id = doc_a
      JOIN n nb ON nb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.5),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION SELECT doc_b, doc_a FROM verified),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node AS src, node AS dst FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)"""
