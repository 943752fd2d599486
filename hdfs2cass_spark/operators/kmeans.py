"""Deterministic distributed k-means (Lloyd's) over an array<float> column.

The IVF index's coarse quantizer: cells should be LEARNED from the vectors,
not taken from a label column. This is the standard broadcast-model pattern —
the model (k x dims centroids) lives driver-side and is broadcast into the
assignment expression each round; the DATA never leaves the cluster, each
iteration is one codegen'd scan + one groupBy, and the driver receives only
k*dims aggregated scalars per round (the new model), independent of row count.

Determinism (so a DuckDB twin or a re-run reproduces the same model):
  - init: the k vectors with the lowest ids — no sampling state
  - assignment: nearest centroid by squared L2; ties break on the lower cell
    id via lexicographic struct ordering
  - update: centroid means accumulate as 1e-6-quantized int64 sums
    (order-independent, engine-exact) divided back to double

At 100 TB: assignment is a pure column expression (k*dims literals folded into
the plan — k is small for a coarse quantizer), the update is one
partial/final aggregation over (cell, dim); nothing here depends on collect()
over data rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vec import _cosine_prenormed, norm_sql

Q = 1_000_000  # centroid-mean quantization


def _dist_expr(vec_col: str, centroid: list[float]) -> F.Column:
    """Squared L2 between the vector column and one centroid literal,
    left-associated accumulation (matches a sequential-loop twin exactly)."""
    lits = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in centroid)
    return F.expr(
        f"aggregate(zip_with({vec_col}, array({lits}), "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): nearest-centroid assignment as one pure-column expression —
    array_min over (dist, cell) structs; lexicographic struct order gives the
    deterministic lowest-cell tiebreak."""
    choices = F.array(
        *[
            F.struct(_dist_expr(vec_col, c).alias("dist"), F.lit(j).alias("cell"))
            for j, c in enumerate(centroids)
        ]
    )
    return embeddings.select(
        F.col(id_col),
        F.array_min(choices)["cell"].alias("cell"),
    )


def quantized_assign_udf(centroids: list[list[float]]):
    """Arrow-batched corpus-side IVF cell assignment: nearest centroid per
    vector, computed as one numpy pass per batch instead of a k*dims explode
    + broadcast join + aggregation. (The distance here is the QUANTIZED form
    used by :func:`ivf_probe_topk`, not :func:`assign_cells`'s plain
    double accumulation — the fit and the index build measure differently by
    design: the fit needs cheap doubles, the index build needs engine-exact
    ints.)

    BIT-EXACT vs the codegen twin and the DuckDB oracle: the per-dimension
    distance is the same quantized integer — floor((v - c)^2 * 1e12) as
    int64 — using the identical IEEE double subtract/multiply/floor, and the
    int64 sum is order-independent; np.argmin's first-minimum rule matches
    min(struct(dist, cell))'s lowest-cell tiebreak. Differentially asserted
    against assign_cells in tests/test_kmeans.py.

    Why a UDF here when the k-means FIT keeps the codegen path: the fit runs
    on a sample and collects k*dims scalars — broadcast-literal expressions
    are perfect for it. Corpus assignment touches EVERY vector; one BLAS-ish
    batch pass beats n*k*dims scalar codegen the same way the hyperplane
    coder's matmul branch does (operators/hyperplane.py:97-137), and the
    Arrow transfer is vectors the stage had to read anyway.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [[float(x) for x in c] for c in centroids]

    def _assign(v: "pd.Series") -> "pd.Series":
        import numpy as np

        C = np.asarray(cents, dtype=np.float64)  # k x d
        arr = np.vstack([np.asarray(x, dtype=np.float64) for x in v])  # n x d
        n, d = arr.shape
        q = np.empty((n, C.shape[0]), dtype=np.int64)
        tmp = np.empty_like(arr)
        # floored per-dim distances are integer-VALUED floats; as long as
        # every one is <= (2^53 - d)/d the float64 row sum is exact (each
        # addend and every partial sum stays strictly under 2^53, so exactly
        # representable), so the n*d int64 materialization + integer sum can
        # be skipped — measured 7x on the assignment loop (0.23s vs 1.61s per
        # 50k x 64 x 16 batch). Distances past that cap (pathological
        # magnitudes) fall back to the int64 path, which is the
        # exact-by-construction original. The -d in the numerator keeps the
        # cap strictly safe for non-power-of-two d, where 2^53/d can round UP
        # and a max-cap row could sum past 2^53.
        exact_cap = (2.0**53 - d) / d
        # in-place per-cell pass keeps the temp at n*d doubles, not n*k*d
        for j in range(C.shape[0]):
            np.subtract(arr, C[j], out=tmp)
            np.multiply(tmp, tmp, out=tmp)
            np.multiply(tmp, 1e12, out=tmp)
            np.floor(tmp, out=tmp)
            if tmp.max() <= exact_cap:
                q[:, j] = tmp.sum(axis=1).astype(np.int64)
            else:
                q[:, j] = tmp.astype(np.int64).sum(axis=1)
        return pd.Series(np.argmin(q, axis=1).astype(np.int32))

    _assign.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_assign, "int")


def _farthest_point_init(
    embeddings: DataFrame, k: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Deterministic farthest-point seeds: one tiny max_by aggregate per seed
    (k-1 passes over the fit set, each returning ONE model row to the driver).
    Tiebreak on lowest id via lexicographic struct ordering (-id ascending)."""
    first = embeddings.select(id_col, vec_col).orderBy(id_col).limit(1).collect()
    if not first:
        return []
    centroids = [[float(v) for v in first[0][vec_col]]]
    while len(centroids) < k:
        nearest = F.least(*[_dist_expr(vec_col, c) for c in centroids]) if len(
            centroids
        ) > 1 else _dist_expr(vec_col, centroids[0])
        row = (
            embeddings.select(F.col(id_col), F.col(vec_col), nearest.alias("_dist"))
            .agg(
                F.expr(
                    f"max_by(struct({id_col}, {vec_col}), struct(_dist, -{id_col}))"
                ).alias("pick")
            )
            .collect()[0]["pick"]
        )
        centroids.append([float(v) for v in row[vec_col]])
    return centroids


def fit_kmeans(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    init: str = "first",
) -> list[list[float]]:
    """Lloyd's iterations; returns the learned centroids (k x dims doubles).

    Empty cells keep their previous centroid (no re-seeding randomness).

    `init="first"` seeds from the k lowest-id vectors (the original, fully
    order-determined seed). `init="spread"` is deterministic farthest-point
    seeding: start from the lowest id, then repeatedly take the vector
    maximizing the distance to its nearest chosen seed (ties -> lowest id).
    Lloyd's cannot un-merge two seeds placed in the same natural cluster, so
    "first" on a hash-sample can land a permanently split/merged partition;
    "spread" picks one seed per well-separated cluster by construction. Use
    "spread" for real index builds; "first" stays the default because the
    committed IVF centroid fixture was fit with it.

    `sample_fraction` fits the model on a DETERMINISTIC hash-sample of the
    corpus: rows where pmod(xxhash64(id), round(1/fraction)) == 0. At 100 TB
    the index build must not scan the full corpus once per Lloyd's round — a
    coarse quantizer only needs enough vectors per cell for stable means
    (k-means converges on a representative sample; the assignment step of the
    ACTUAL queries still runs over everything). Deterministic by id, not
    rand(): re-runs and resumed jobs fit the identical model.
    """
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError(f"sample_fraction must be in (0, 1], got {sample_fraction}")
        s = max(1, round(1.0 / sample_fraction))
        embeddings = embeddings.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)) == 0)
    if init == "first":
        init_rows = (
            embeddings.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(k)
            .collect()  # k MODEL rows, not data — the deterministic seed
        )
        centroids = [[float(v) for v in r[vec_col]] for r in init_rows]
    elif init == "spread":
        centroids = _farthest_point_init(embeddings, k, id_col, vec_col)
    else:
        raise ValueError(f"init must be 'first'|'spread', got {init!r}")
    if len(centroids) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(centroids)}")

    for _ in range(iters):
        assigned = embeddings.select(
            F.col(id_col),
            F.col(vec_col),
        ).join(
            assign_cells(embeddings, centroids, id_col, vec_col), id_col
        )
        # update: explode to (cell, dim, value), one partial/final aggregation;
        # the driver receives k*dims scalars — the new model, nothing else
        stats = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.floor(F.col("v").cast("double") * Q).cast("bigint")).alias("qs"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty cells keep old
        dims: dict[int, dict[int, float]] = {}
        for r in stats:
            dims.setdefault(r["cell"], {})[r["pos"]] = (r["qs"] / Q) / r["n"]
        for cell, posvals in dims.items():
            for pos, val in posvals.items():
                new_centroids[cell][pos] = val
        if new_centroids == centroids:
            break
        centroids = new_centroids
    return centroids


# ---------------------------------------------------------------------------
# IVF search over a learned coarse quantizer
# ---------------------------------------------------------------------------


@functools.cache
def _ivf_centroids() -> list[list[float]]:
    """The committed learned coarse quantizer (fixtures/ivf_centroids.parquet,
    fit by scripts/gen_ivf_fixture.py with :func:`fit_kmeans` — the real IVF
    index-build step, run once offline). Both engines inline these as
    literals, so cell assignment is engine-exact at every scale factor."""
    import os

    import pyarrow.parquet as pq

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    t = pq.read_table(os.path.join(repo_root, "fixtures", "ivf_centroids.parquet"))
    return [list(c) for c in t.column("centroid").to_pylist()]


def __getattr__(name: str):
    # _IVF_CENTS and its DuckDB VALUES literal load on first use: importing
    # this module reads no file, so the script that fits the fixture can
    # import fit_kmeans before the fixture exists
    if name == "_IVF_CENTS":
        return _ivf_centroids()
    if name == "_IVF_CENT_VALUES_DUCK":
        return ",\n      ".join(
            "({j}, [{vals}])".format(
                j=j, vals=", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in c)
            )
            for j, c in enumerate(_ivf_centroids())
        )
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


_NPROBE = 2


def _ivf_dist_spark(vec_col: str, cent: list[float]) -> str:
    """Quantized squared L2 to one centroid: per-position floor((x-c)^2*1e12)
    int64 terms, summed — order-independent exact ints, identical in DuckDB."""
    lits = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in cent)
    return (
        f"aggregate(zip_with({vec_col}, array({lits}), "
        "(x, y) -> CAST(floor((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y) "
        "* CAST(1000000000000 AS DOUBLE)) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _ivf_cell_struct_array(vec_col: str, cents: list[list[float]]) -> str:
    structs = ", ".join(
        f"struct({_ivf_dist_spark(vec_col, c)} AS dist, {j} AS cell)"
        for j, c in enumerate(cents)
    )
    return f"array({structs})"


_IVF_DIST_DUCK = (
    "SUM(CAST(floor((CAST({vec}[i] AS DOUBLE) - cv[i]) * (CAST({vec}[i] AS DOUBLE) - cv[i])"
    " * CAST(1000000000000 AS DOUBLE)) AS BIGINT))"
)


def ivf_probe_topk(
    e: DataFrame,
    cents: list[list[float]],
    nprobe: int = _NPROBE,
    topk: int = 3,
    n_queries: int = 5,
) -> DataFrame:
    """IVF search given a coarse quantizer: assign every corpus vector to its
    nearest centroid, probe the `nprobe` nearest cells per query, exact
    cosine only within probed cells. Shared by embedding_ivf_topk (committed
    fixture model, oracle-checked) and embedding_ivf_learned_topk (model fit
    at call time)."""
    # index build (offline in a real system, inline here): nearest learned
    # centroid per vector as ONE Arrow-batched numpy pass — bit-exact vs the
    # oracle (same quantized int64 per-dim distance, same lowest-cell
    # tiebreak; see quantized_assign_udf). The cell becomes a plain column on
    # the corpus scan, so the index build adds NO join, NO explode, and NO
    # aggregation — the round-3 codegen'd explode + broadcast-centroid-join +
    # two-aggregation form (k*dims row amplification) measured 1.18s vs
    # 0.69s for this form at sf0.1 (1.7x), and its amplification grows with
    # k*dims at 100 TB while the batch pass stays one scan (interpreted HOF
    # lambdas were 2.5x slower still).
    assign = quantized_assign_udf(cents)
    ecell = e.select(
        "vec_id",
        "embedding",
        assign(F.col("embedding")).alias("cell"),
        F.expr(norm_sql("embedding")).alias("_en"),
    )
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.expr(norm_sql("embedding")).alias("_qn"),
    )
    # probe cells: the nprobe nearest of the k (dist, cell) structs, sorted
    qcells = q.select(
        "q_id",
        "qe",
        "_qn",
        F.explode(
            F.expr(f"slice(array_sort({_ivf_cell_struct_array('qe', cents)}), 1, {nprobe})")
        ).alias("pc"),
    ).select("q_id", "qe", "_qn", F.col("pc.cell").alias("cell"))
    sim = F.round(_cosine_prenormed("qe", "embedding", "_qn", "_en"), 6)
    sims = (
        F.broadcast(qcells)
        .join(ecell, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", sim.alias("sim"))
        .filter(F.col("sim").isNotNull())
    )
    return (
        sims.withColumn(
            "rnk", F.row_number().over(Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id"))
        )
        .filter(F.col("rnk") <= topk)
        .select("q_id", "vec_id", "sim", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("q_id", "rnk")
    )
