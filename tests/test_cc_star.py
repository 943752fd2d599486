"""connected_components_star (operators/cc.py): equality with the default
alternating-min CC on random graphs / chains / stars, O(log d) round counts
on long chains (where the default needs diameter rounds), and the loud
non-convergence guard."""

import random

import pytest
from pyspark.sql import functions as F

from hdfs2cass_spark.operators import cc
from hdfs2cass_spark.operators.cc import connected_components, connected_components_star


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _norm(rows):
    return sorted((r["node"], r["comp"]) for r in rows)


@pytest.mark.parametrize("seed", [3, 17, 42])
@pytest.mark.slow
def test_matches_default_cc_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 120
    pairs = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(150)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    e = _edges_df(spark, pairs)
    want = _norm(connected_components(e).collect())
    got = _norm(connected_components_star(e).collect())
    assert got == want


def test_chain_converges_in_log_rounds(spark, monkeypatch):
    """A 200-node path has diameter 199: the default alternating-min CC
    would need ~200 rounds (with the automatic flip DISABLED it trips its
    guard); the star variant must finish in O(log d) — and still produce
    min-id labels."""
    n = 200
    e = _edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    monkeypatch.setattr(cc, "FLIP_AFTER", 21)  # past max_iter: never flips
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=20)
    log: list = []
    got = _norm(connected_components_star(e, round_log=log).collect())
    assert got == [(i, 0) for i in range(n)]
    assert len(log) <= 12, f"rounds {len(log)} — not O(log d)"


def test_default_cc_auto_flips_to_star_on_long_chain(spark, monkeypatch):
    """The r9-verdict flip automation: a planted long chain converges
    through the DEFAULT connected_components without manual intervention —
    after FLIP_AFTER alternating-min rounds it hands the partial labels to
    the star algorithm as shortcut edges and finishes, instead of raising
    at the max_iter guard."""
    n = 200
    e = _edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    log: list = []
    with monkeypatch.context() as m:
        m.setattr(cc, "FLIP_AFTER", 5)
        got = _norm(connected_components(e, round_log=log).collect())
    assert got == [(i, 0) for i in range(n)]
    flips = [t for t in log if t[0] == "flip_to_star"]
    assert flips == [("flip_to_star", 5, 0.0)]
    # total rounds: 5 alternating-min + O(log d) star rounds, nowhere near
    # the ~200 the chain would cost without the flip
    assert len(log) <= 20

    # low-diameter graphs must NOT flip (the default path stays one
    # shuffle per round): a star graph converges in a couple of rounds
    log2: list = []
    small = _edges_df(spark, [(50, i) for i in (1, 7, 9, 13)])
    _norm(connected_components(small, round_log=log2).collect())
    assert not [t for t in log2 if t[0] == "flip_to_star"]


def test_star_and_two_components(spark):
    # a star rooted at 50 (so min is a LEAF: 1) plus a separate triangle
    pairs = [(50, i) for i in (1, 7, 9, 13)] + [(100, 101), (101, 102), (102, 100)]
    e = _edges_df(spark, pairs)
    want = _norm(connected_components(e).collect())
    got = _norm(connected_components_star(e).collect())
    assert got == want
    comp = dict(got)
    assert comp[50] == 1 and comp[13] == 1 and comp[102] == 100


def test_round_log_and_nonconvergence_guard(spark):
    e = _edges_df(spark, [(i, i + 1) for i in range(30)])
    with pytest.raises(RuntimeError, match="connected_components_star"):
        connected_components_star(e, max_iter=1)
    log: list = []
    connected_components_star(e, round_log=log).collect()
    assert log and all(len(t) == 3 for t in log)
