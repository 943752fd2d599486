"""Connected-components dedup clusters: distributed result == Python BFS."""

from collections import defaultdict

from hdfs2cass_spark.operators.cc import connected_components
from hdfs2cass_spark.plans.llm import dedup_near_duplicates
from hdfs2cass_spark.plans import CATALOG


def _bfs_components(pairs):
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    seen, comp = {}, {}
    for start in sorted(adj):
        if start in seen:
            continue
        stack, members = [start], []
        seen[start] = True
        while stack:
            u = stack.pop()
            members.append(u)
            for v in adj[u]:
                if v not in seen:
                    seen[v] = True
                    stack.append(v)
        keeper = min(members)
        for m in members:
            comp[m] = keeper
    return comp


def test_clusters_match_bfs(spark, sf_dir):
    pairs = [(r["doc_a"], r["doc_b"]) for r in dedup_near_duplicates(spark, sf_dir).collect()]
    got = {r["doc_id"]: r["keeper"] for r in CATALOG["dedup_clusters"].fn(spark, sf_dir).collect()}
    exp = _bfs_components(pairs)
    assert got == exp
    # every keeper is a member of its own cluster and is minimal
    for doc, keeper in got.items():
        assert keeper <= doc


def test_connected_components_chain(spark):
    # a chain 1-2-3-4 plus isolated pair 10-11: two components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], schema="src long, dst long"
    )
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # diameter 30 > the old max_iter=20: converges (min label propagates one
    # hop per round) instead of silently returning unconverged labels
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], schema="src long, dst long"
    )
    got = {r["node"]: r["comp"] for r in connected_components(edges, max_iter=50).collect()}
    assert got == {i: 0 for i in range(31)}


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], schema="src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    # loud failure must not leak SQL-cache entries (localCheckpoint blocks are
    # ContextCleaner-managed, not CacheManager entries)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_connected_components_releases_caches(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], schema="src long, dst long")
    out = connected_components(edges)
    assert out.count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_degenerate_corpus_capped(spark, tmp_path):
    """5k identical docs land in ONE band bucket: the BAND_CAP guard drops it
    instead of expanding ~12.5M pairs. Completes fast and returns no pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.plans.llm import minhash_lsh_pairs

    n = 5000
    text = "the quick brown fox jumps over the lazy dog again and again"
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(n)),
                "text": [text] * n,
                "lang": ["en"] * n,
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = minhash_lsh_pairs(spark, str(tmp_path))
    assert out.count() == 0  # the one giant bucket is dropped by the cap
