"""Hyperplane (sign-random-projection) LSH over an embedding column.

Candidate generation for embedding near-dup detection: each vector gets a
p-bit code (one sign bit per random hyperplane); vectors sharing a code are
candidates. P(bit agrees) = 1 - angle/pi, so near-parallel vectors collide
with high probability.

The three properties that make this the 100 TB shape (and not a toy):

  1. **Capped buckets.** A degenerate corpus (many identical-direction
     vectors) puts them all in one code bucket and any in-bucket pairing goes
     quadratic. Buckets over `cap` are DROPPED before pair expansion — the
     same guard the minhash path applies via BAND_CAP — so one bucket yields
     at most ~cap^2/2 pairs inside one task. Identical vectors land in the
     same bucket under ANY plane count (their code is equal by construction);
     catching them is exact-dedup's job (hash the vector bytes), not LSH's.
  2. **Plane count scales with corpus size.** With p planes there are 2^p
     codes; expected bucket load is N/2^p. A FIXED p means load — and the
     per-bucket quadratic — grows linearly with N. `n_planes=None` derives
     p = ceil(log2(2N / cap)) from a plan-time count, keeping the expected
     load near cap/2 at any N.
  3. **Multiprobe recovers recall.** More planes split true near-dup pairs
     across neighboring codes (each extra plane multiplies pair-collision
     probability by ~cos-similarity-dependent factor). With `multiprobe=1`
     each vector is also enrolled under every code at Hamming distance 1 from
     its own, so pairs whose codes differ in <= 2 bits still meet in some
     bucket, at a (p+1)x enrollment cost — linear in N, not quadratic.

Measured (scripts/stress.py --vecs 200000, 500 planted pairs at cosine
~0.989, local[32]): recall 0.926 with dynamic planes p=17 + multiprobe=1 in
12.7 s end-to-end — no quadratic stage, no codegen fallback. The pytest
bound in tests/test_hyperplane.py (recall >= 0.9 at the 3k-vector shape) is
the recorded floor.

The reference has no similarity search (SURVEY.md §2.2); this is extension
surface for the training-data pipeline, oracle-checked through the declared
query ``embedding_near_dup_pairs`` (fixed p=8 so the DuckDB twin evaluates
the identical literal arithmetic).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .buckets import bucket_pairs, capped_buckets

DEFAULT_CAP = 100  # mirrors operators.text.BAND_CAP for band buckets
DEFAULT_SEED = 42


def lsh_planes(n_planes: int, dims: int, seed: int = DEFAULT_SEED):
    """Deterministic random hyperplanes (seeded standard normals), shared by
    the Spark expression and any generated oracle SQL so the sign bits agree
    bit-for-bit."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dims))


def bucket_sql(planes, elem_fmt: str) -> str:
    """Sign-bit code as a SQL expression over 1-indexed element access.

    `elem_fmt` is a format string for one vector element, e.g.
    ``"element_at(embedding, {i})"`` (Spark) or ``"embedding[{i}]"`` (DuckDB).
    Both engines evaluate the identical left-associated literal arithmetic,
    so the resulting codes are engine-exact.
    """
    n_planes, dims = len(planes), len(planes[0])
    proj_cols = []
    for p in range(n_planes):
        terms = " + ".join(
            f"CAST({elem_fmt.format(i=i + 1)} AS DOUBLE) * ({planes[p][i]!r})"
            for i in range(dims)
        )
        proj_cols.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(proj_cols)


def _lsh_bucket_sql(elem_fmt: str) -> str:
    """8 fixed planes for the ORACLE-CHECKED queries (DuckDB evaluates the
    identical literal arithmetic). The scale path derives the plane count
    from corpus size — :func:`derive_n_planes`."""
    return bucket_sql(lsh_planes(8, 64), elem_fmt)


def _plane_bit_sql(plane, bit: int, elem_fmt: str) -> str:
    """One plane's sign bit — same literal text bucket_sql emits for this
    plane, kept as a SEPARATE expression: a p*dims-term single expression
    overflows janino's 64 KB method limit around p=12 and silently falls back
    to interpreted evaluation (observed at the 200k-vector stress shape);
    one column per plane keeps every generated method small and codegen'd."""
    terms = " + ".join(
        f"CAST({elem_fmt.format(i=i + 1)} AS DOUBLE) * ({v!r})" for i, v in enumerate(plane)
    )
    return f"(CASE WHEN ({terms}) > 0 THEN {1 << bit} ELSE 0 END)"


def bucket_col(planes, vec_col: str = "embedding") -> Column:
    return F.expr(bucket_sql(planes, f"element_at({vec_col}, {{i}})")).cast("bigint")


# above this plane count the p*dims literal-arithmetic projection overflows
# janino's 64 KB method limit (whole-stage codegen fuses every bit expression
# into one processNext()) and Spark silently drops to interpreted eval —
# observed at the 200k-vector stress shape. The oracle-checked query stays at
# p=8 (codegen'd, engine-exact vs DuckDB); past the threshold the code becomes
# ONE Arrow-batched numpy matmul per batch (BLAS beats generated scalar code
# at this width anyway, and the exact-cosine verify downstream makes borderline
# sign-bit placement a recall detail, not a correctness one).
_CODEGEN_MAX_PLANES = 10


def _with_code(
    emb: DataFrame, planes, id_col: str, vec_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(_id, *keep, code): sign-bit code per vector. ``keep`` names extra
    columns carried through unchanged (the ANN retrieval path rides the
    vector itself alongside its code so the chunk side is coded AND scored
    in one scan, never re-joined)."""
    n_planes = len(planes)
    if n_planes <= _CODEGEN_MAX_PLANES:
        elem = f"element_at({vec_col}, {{i}})"
        bits = [
            F.expr(_plane_bit_sql(p, b, elem)).alias(f"_bit{b}") for b, p in enumerate(planes)
        ]
        summed = "CAST(" + " + ".join(f"_bit{b}" for b in range(n_planes)) + " AS BIGINT)"
        return emb.select(F.col(id_col).alias("_id"), *keep, *bits).select(
            "_id", *keep, F.expr(summed).alias("code")
        )

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    plane_rows = [[float(x) for x in p] for p in planes]

    # self-contained closure (locals pickle by value; no module refs)
    def _code(v: pd.Series) -> pd.Series:
        import numpy as np

        m = np.asarray(plane_rows).T  # dims x p
        pows = 1 << np.arange(m.shape[1], dtype=np.int64)
        arr = np.array([np.asarray(x, dtype=np.float64) for x in v], dtype=np.float64)
        return pd.Series(((arr @ m) > 0) @ pows)

    _code.__annotations__ = {"v": pd.Series, "return": pd.Series}
    code_udf = pandas_udf(_code, "bigint")
    return emb.select(
        F.col(id_col).alias("_id"), *keep, code_udf(F.col(vec_col)).alias("code")
    )


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks over ``n_planes`` bits with popcount <= radius (mask 0
    first) — the Hamming ball a query code is expanded into for multiprobe
    retrieval. len = sum_{r<=radius} C(p, r); parameter metadata (a few
    hundred ints), generated driver-side like the planes themselves."""
    import itertools

    masks = [0]
    for r in range(1, radius + 1):
        for comb in itertools.combinations(range(n_planes), r):
            m = 0
            for b in comb:
                m |= 1 << b
            masks.append(m)
    return masks


def derive_n_planes(n_rows: int, cap: int = DEFAULT_CAP, multiprobe: int = 0) -> int:
    """Smallest p (floor 8) with expected bucket load <= cap/2.

    Multiprobe enrolls each vector under p+1 codes, so the load is
    N*(p+1)/2^p — ignoring that factor silently drops most buckets at the
    cap and recall collapses (caught by the planted-recall test). Solved by
    fixed-point since p appears on both sides; converges in <= 3 steps."""
    p = 8
    for _ in range(8):
        enroll = (p + 1) if multiprobe else 1
        new_p = max(8, math.ceil(math.log2(max(2 * n_rows * enroll / cap, 2))))
        if new_p == p:
            break
        p = new_p
    return p


def hyperplane_candidates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    cap: int = DEFAULT_CAP,
    multiprobe: int = 0,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Candidate id pairs (id_a < id_b) sharing a (possibly probed) bucket.

    Shape: one aggregation on the code (ids only — embeddings never ride
    through the shuffle), capped in-bucket pair expansion, distinct. With
    `multiprobe=1` each vector enrolls under its own code plus the p codes at
    Hamming distance 1, so pairs differing in <= 2 bits still meet.

    `n_planes=None` derives the plane count from a plan-time `count()` —
    index-build metadata, the same class of scalar as k-means init; the data
    itself is never collected.
    """
    if multiprobe not in (0, 1):
        raise ValueError(f"multiprobe must be 0 or 1, got {multiprobe}")
    if n_planes is None:
        n_planes = derive_n_planes(emb.count(), cap, multiprobe)
    if n_planes > 62:
        raise ValueError(f"n_planes={n_planes} overflows the bigint code")
    dims = emb.select(F.size(vec_col).alias("d")).first()["d"]
    planes = lsh_planes(n_planes, dims, seed)
    coded = _with_code(emb, planes, id_col, vec_col)
    if multiprobe:
        probes = F.array(
            F.col("code"), *[F.col("code").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)]
        )
        entries = coded.select("_id", F.explode(probes).alias("code"))
    else:
        entries = coded
    # capped_buckets gates bucket size with a streaming window count BEFORE
    # the collect: the derived plane count bounds the EXPECTED bucket load,
    # but an adversarial code (millions of identical embeddings) would
    # otherwise fill one aggregation buffer before cap-and-drop could fire
    buckets = capped_buckets(entries, ["code"], "_id", cap=cap)
    return (
        buckets.select(F.explode(bucket_pairs("ids", "x AS id_a, y AS id_b")).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def hyperplane_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    cap: int = DEFAULT_CAP,
    multiprobe: int = 0,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """LSH candidates verified by exact cosine >= threshold.

    Returns (id_a, id_b, sim). Cosine is evaluated ONLY on candidate pairs —
    cost scales with candidates, never docs^2. Zero-norm vectors yield NULL
    cosine and are excluded (cosine is undefined for them)."""
    from ..functions.vec import dot_sql, norm_sql

    cand = hyperplane_candidates(emb, id_col, vec_col, n_planes, cap, multiprobe, seed)
    # norms ride each side ONCE instead of being re-evaluated per candidate
    # pair after the join (see functions/vec.py for the A/B numbers; the
    # per-pair arithmetic this removes is the term that grows with corpus
    # size)
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.expr(norm_sql(vec_col)).alias("_na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.expr(norm_sql(vec_col)).alias("_nb"),
    )
    sim = F.expr(dot_sql("_va", "_vb")) / F.expr(
        "nullif(_na * _nb, CAST(0 AS DOUBLE))"
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
