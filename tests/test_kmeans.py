"""Distributed k-means vs a sequential numpy twin replicating the exact
determinism contract (lowest-id init, left-assoc distances, lowest-cell
tiebreak, quantized int64 means)."""

import numpy as np
import pytest

from hdfs2cass_spark.operators.kmeans import Q, assign_cells, fit_kmeans
from hdfs2cass_spark.sources.readers import load_table


def _twin_fit(vecs: np.ndarray, k: int, iters: int) -> list[list[float]]:
    cents = [list(map(float, vecs[i])) for i in range(k)]
    for _ in range(iters):
        cells = []
        for v in vecs:
            best = None
            for j, c in enumerate(cents):
                acc = 0.0
                for x, y in zip(v, c):  # left-assoc, like the Spark aggregate
                    acc = acc + (float(x) - y) * (float(x) - y)
                if best is None or (acc, j) < best:
                    best = (acc, j)
            cells.append(best[1])
        new = [list(c) for c in cents]
        for j in range(k):
            members = [v for v, cell in zip(vecs, cells) if cell == j]
            if members:
                for pos in range(vecs.shape[1]):
                    qs = sum(int(np.floor(float(v[pos]) * Q)) for v in members)
                    new[j][pos] = (qs / Q) / len(members)
        if new == cents:
            break
        cents = new
    return cents


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_fit_kmeans_matches_sequential_twin(spark, emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float32)
    got = fit_kmeans(emb, k=4, iters=3)
    want = _twin_fit(vecs, k=4, iters=3)
    assert got == want


def test_assign_cells_partitions_everything(spark, emb):
    cents = fit_kmeans(emb, k=4, iters=2)
    cells = assign_cells(emb, cents)
    n = emb.count()
    assert cells.count() == n
    dist = {r["cell"] for r in cells.select("cell").distinct().collect()}
    assert dist <= set(range(4)) and len(dist) >= 2


def test_fit_kmeans_requires_k_vectors(spark, emb):
    with pytest.raises(ValueError):
        fit_kmeans(emb.limit(2), k=4, iters=1)


def _clustered_corpus(spark, n_per=300, k=3, dims=16, seed=11):
    """k well-separated gaussian blobs (centers 10 apart, unit noise)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((k, dims)) * 10.0
    rows = []
    for i in range(k * n_per):
        c = centers[i % k]
        rows.append((i, [float(x) for x in c + rng.standard_normal(dims)]))
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))]
    )
    return spark.createDataFrame(rows, schema)


@pytest.mark.slow
def test_sampled_fit_assigns_like_full_fit(spark):
    """The sample-fit model must induce (nearly) the same partition of the
    corpus as the full-fit model — cell IDS may permute between models, so
    compare co-membership over pairs, not labels."""
    emb = _clustered_corpus(spark)
    full = fit_kmeans(emb, k=3, iters=5, init="spread")
    sampled = fit_kmeans(emb, k=3, iters=5, sample_fraction=0.25, init="spread")
    a = {r["vec_id"]: r["cell"] for r in assign_cells(emb, full).collect()}
    b = {r["vec_id"]: r["cell"] for r in assign_cells(emb, sampled).collect()}
    ids = sorted(a)
    agree = total = 0
    for i in range(0, len(ids) - 1, 7):  # strided pair sample, deterministic
        for j in range(i + 1, min(i + 40, len(ids)), 11):
            total += 1
            agree += (a[ids[i]] == a[ids[j]]) == (b[ids[i]] == b[ids[j]])
    assert total > 200
    assert agree / total >= 0.95, f"co-membership agreement {agree/total:.3f}"


@pytest.mark.slow
def test_sampled_fit_is_deterministic_and_actually_samples(spark):
    emb = _clustered_corpus(spark, n_per=200)
    m1 = fit_kmeans(emb, k=3, iters=2, sample_fraction=0.2)
    m2 = fit_kmeans(emb, k=3, iters=2, sample_fraction=0.2)
    assert m1 == m2  # hash-sample, not rand(): identical model on re-run
    full = fit_kmeans(emb, k=3, iters=2)
    assert m1 != full  # fitted on a strict subset, not secretly the full scan


def test_sample_fraction_validation(spark):
    emb = _clustered_corpus(spark, n_per=10)
    with pytest.raises(ValueError, match="sample_fraction"):
        fit_kmeans(emb, k=2, iters=1, sample_fraction=1.5)


def test_ivf_learned_topk_recall_and_determinism(spark, tmp_path):
    """The declared learned-quantizer IVF query (fit_kmeans -> assignment ->
    probe) must (a) recover >= 0.9 of the brute-force top-3 neighbors on a
    clustered corpus — the workload IVF exists for — and (b) return
    identical rows on a re-run (hash-sample + lowest-id tiebreaks, no
    rand())."""
    from hdfs2cass_spark.plans import CATALOG

    emb = _clustered_corpus(spark, n_per=200, k=4, dims=16)
    d = str(tmp_path / "ivf")
    emb.write.parquet(f"{d}/embeddings.parquet")

    fn = CATALOG["embedding_ivf_learned_topk"].fn
    got = fn(spark, d).collect()
    assert {(r.q_id, r.rnk) for r in got} == {(q, r) for q in range(4) for r in (1, 2, 3)} | {
        (4, r) for r in (1, 2, 3)
    }
    again = fn(spark, d).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]

    # brute-force top-3 per query in numpy (same cosine, same id tiebreak)
    rows = emb.orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = nrm @ nrm.T
    want = set()
    for q in range(5):
        order = sorted(
            (i for i in range(len(rows)) if i != q), key=lambda i: (-sims[q, i], i)
        )
        want |= {(q, i) for i in order[:3]}
    got_pairs = {(r.q_id, r.vec_id) for r in got}
    recall = len(got_pairs & want) / len(want)
    assert recall >= 0.9, f"IVF recall {recall:.2f} vs brute force"


def test_quantized_assign_udf_matches_codegen_twin(spark):
    """quantized_assign_udf (numpy batch pass) must agree with the codegen'd
    quantized expression form on every vector — same floor((v-c)^2 * 1e12)
    int64 distance, same lowest-cell tiebreak — including on vectors placed
    EXACTLY equidistant between two centroids (the tiebreak case) and on a
    zero vector."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.operators.kmeans import quantized_assign_udf

    cents = [[0.0, 0.0], [2.0, 0.0], [0.0, 2.0]]
    rows = [
        (0, [0.1, 0.2]),
        (1, [1.9, 0.1]),
        (2, [0.0, 1.8]),
        (3, [1.0, 0.0]),  # exactly between cells 0 and 1 -> lowest cell wins
        (4, [0.0, 0.0]),  # zero vector
        (5, [1.0, 1.0]),  # equidistant to ALL three cells
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # codegen twin: the exact expression embedding_ivf_topk used before r4
    def dist_sql(c):
        lits = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in c)
        return (
            f"aggregate(zip_with(embedding, array({lits}), "
            "(x, y) -> CAST(floor((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y) "
            "* CAST(1000000000000 AS DOUBLE)) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )

    structs = ", ".join(
        f"struct({dist_sql(c)} AS dist, {j} AS cell)" for j, c in enumerate(cents)
    )
    codegen = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", F.expr(f"array_min(array({structs})).cell").alias("cell")
        ).collect()
    }
    udf = quantized_assign_udf(cents)
    got = {
        r.vec_id: r.cell
        for r in emb.select("vec_id", udf(F.col("embedding")).alias("cell")).collect()
    }
    assert got == codegen
    assert got[3] == 0 and got[5] == 0  # lowest-cell tiebreak pinned


def test_ivf_fixture_topk_recall_vs_brute_force(spark):
    """The COMMITTED centroid fixture (scripts/gen_ivf_fixture.py) must keep
    the declared embedding_ivf_topk recall-useful on the data it was fit for
    (sf0.01 — measured 0.93 there vs 0.40 on sf0.001's different random
    vectors): if a fixture regeneration degrades the quantizer (bad k, bad
    fit), the oracle self-consistency check cannot catch it — both engines
    would compute the same wrong-cells answer — so recall vs the exact
    brute-force baseline is pinned here (r8 verdict item 7). Recall alone is
    gameable by a DEGENERATE quantizer (everything in one cell = perfect
    recall, zero pruning), so the cell spread is pinned too."""
    import os

    import pytest

    from hdfs2cass_spark.operators.kmeans import quantized_assign_udf
    from hdfs2cass_spark.plans import CATALOG
    from hdfs2cass_spark.operators.kmeans import _IVF_CENTS

    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 testdata not present")
    ivf = {
        (r.q_id, r.vec_id)
        for r in CATALOG["embedding_ivf_topk"].fn(spark, sf01).collect()
    }
    brute = {
        (r.q_id, r.vec_id)
        for r in CATALOG["embedding_topk_cosine"].fn(spark, sf01).collect()
        if r.rnk <= 3
    }
    assert len(brute) == 15
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.8, f"fixture-IVF recall {recall:.2f} vs brute force"
    # pruning: the corpus must spread over most cells with no dominant one
    from pyspark.sql import functions as F

    from hdfs2cass_spark.sources import load_table

    e = load_table(spark, sf01, "embeddings")
    assign = quantized_assign_udf(_IVF_CENTS)
    dist = e.select(assign(F.col("embedding")).alias("cell")).groupBy("cell").count().collect()
    n = sum(r["count"] for r in dist)
    assert len(dist) >= len(_IVF_CENTS) // 2
    assert max(r["count"] for r in dist) / n <= 0.5, "degenerate quantizer"
