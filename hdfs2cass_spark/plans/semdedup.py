"""SemDeDup: semantic deduplication via k-means cells + within-cell cosine.

The method (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): cluster the embedding space with
k-means, then look for near-duplicate pairs ONLY within a cluster — the
cluster bounds the pair expansion, turning the O(n^2) all-pairs comparison
into O(sum cell_size^2) with k chosen so cells stay small (k grows with the
corpus; the paper uses k ~ 10^4-10^5 on web scale). Inside a cell, a vector
is a semantic duplicate when some SMALLER-id vector in the same cell has
cosine above tau; keep-lowest-id is the paper's "keep one exemplar per
epsilon-ball" made deterministic and engine-exact (no iteration, no
tie-on-random).

Two declared queries:
  - ``semantic_dedup`` — cells from the COMMITTED k-means fixture model
    (fixtures/ivf_centroids.parquet, the same learned coarse quantizer the
    IVF queries inline), so the full pipeline is DuckDB-hash-checked.
  - ``semantic_dedup_learned`` — the production form: fits k-means at call
    time (operators/kmeans.py). Rows-only by necessity (the fit is
    iterative); pinned to the fixture twin by tests/test_semdedup.py and
    surfaced in TWINS.json.

Scale shape (the 100 TB story):
  - cell assignment is ONE Arrow-batched numpy pass over the corpus
    (quantized_assign_udf — no explode, no join, no aggregation);
  - the pair stage self-joins on the cell id only AFTER an exact-duplicate
    collapse: identical vectors (the pathological mass in a crawled corpus —
    boilerplate pages, empty strings all embedding to the same point) are
    grouped by value first, and only GROUP REPRESENTATIVES enter the
    pairwise join. For tau < 1 this is semantics-exact: every non-rep
    member of a non-zero group has cosine exactly 1 with its smaller-id
    rep, hence is a duplicate by definition; and for any rep, a smaller-id
    near-neighbor exists among ALL vectors iff one exists among reps
    (members tie their rep's cosine, and a member's id is always above its
    own rep's). A 333k-identical-vector cell therefore costs one window
    pass instead of 5.5e10 cosines — the same hot-key collapse the winnow
    skew probe measures (ARCHITECTURE.md);
  - zero vectors (failed encodes) have NULL cosine with everything in both
    engines (nullif-guarded denominator) and are never duplicates — the
    collapse respects that by exempting zero-norm groups from the
    member-is-dup rule.

Reference scope note: the reference engine (spotify/hdfs2cass) has no
analytics surface; this module is part of the training-data-pipeline
extension the build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vec import _cosine_duck, _cosine_prenormed, norm_sql
from ..operators.kmeans import _IVF_CENTS, _IVF_CENT_VALUES_DUCK, _IVF_DIST_DUCK
from ..sources.readers import load_table
from .registry import declare

# tau for the synthetic fixture corpus: its vectors are well-separated
# (max pairwise cosine ~0.51), so the real-corpus taus (0.95+) would make
# every row "kept" and the drop path would go oracle-unchecked; 0.35 drops
# a meaningful minority at every SF (68/500 at sf0.001, 98/500 at sf0.01)
# while keeping most. Production callers pass their own tau to semdedup_df.
_TAU = 0.35


def semdedup_df(
    e: DataFrame, cents: list[list[float]], tau: float = _TAU
) -> DataFrame:
    """(vec_id, cell, is_kept) for every input vector — False when a
    smaller-id same-cell vector sits above ``tau`` cosine. See the module
    docstring for the exact-duplicate collapse that makes the pair stage
    skew-safe; requires tau < 1 (the collapse treats cosine-1 members as
    duplicates unconditionally)."""
    if not tau < 1:
        raise ValueError("semdedup_df requires tau < 1 (see collapse contract)")
    from ..operators.kmeans import quantized_assign_udf

    assign = quantized_assign_udf(cents)
    v = e.select(
        "vec_id",
        "embedding",
        assign(F.col("embedding")).alias("cell"),
        F.expr(norm_sql("embedding")).alias("_n"),
    )
    # exact-duplicate collapse: rep = lowest vec_id per identical embedding
    # (cell is a function of the embedding, so grouping by the vector alone
    # cannot split a cell). One window pass; no group list is ever built.
    v = v.withColumn("rep_id", F.min("vec_id").over(Window.partitionBy("embedding")))
    reps = v.filter(F.col("vec_id") == F.col("rep_id"))
    a = reps.select(
        F.col("cell"),
        F.col("embedding").alias("_ea"),
        F.col("_n").alias("_na"),
        F.col("rep_id").alias("_ida"),
    )
    b = reps.select(
        F.col("cell"),
        F.col("embedding").alias("_eb"),
        F.col("_n").alias("_nb"),
        F.col("rep_id").alias("_idb"),
    )
    sim = F.round(_cosine_prenormed("_ea", "_eb", "_na", "_nb"), 6)
    # NULL sim (zero vector on either side) fails the > filter in both engines
    dup_reps = (
        a.join(b, "cell")
        .filter(F.col("_idb") < F.col("_ida"))
        .filter(sim > F.lit(tau))
        .select(F.col("_ida").alias("rep_id"))
        .distinct()
        .withColumn("_rep_dup", F.lit(True))
    )
    member_dup = (F.col("vec_id") != F.col("rep_id")) & (F.col("_n") > 0)
    return (
        v.join(dup_reps, "rep_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            (~(member_dup | F.coalesce(F.col("_rep_dup"), F.lit(False)))).alias(
                "is_kept"
            ),
        )
        .orderBy("vec_id")
    )


@declare(
    "semantic_dedup",
    oracle=f"""
    WITH cent(cell, cv) AS (VALUES
      {_IVF_CENT_VALUES_DUCK}),
    vdist AS (
      SELECT vec_id, cell, {_IVF_DIST_DUCK.format(vec='embedding')} AS dist
      FROM embeddings CROSS JOIN cent CROSS JOIN generate_series(1, 64) AS t(i)
      GROUP BY vec_id, cell),
    vcell AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS cr
        FROM vdist) t WHERE cr = 1),
    v AS (
      SELECT e.vec_id, e.embedding, vc.cell
      FROM embeddings e JOIN vcell vc USING (vec_id)),
    dup AS (
      SELECT DISTINCT a.vec_id FROM v a JOIN v b
        ON a.cell = b.cell AND b.vec_id < a.vec_id
      WHERE round({_cosine_duck('a.embedding', 'b.embedding')}, 6) > {_TAU})
    SELECT v.vec_id, CAST(v.cell AS INTEGER) AS cell,
           (d.vec_id IS NULL) AS is_kept
    FROM v LEFT JOIN dup d ON d.vec_id = v.vec_id
    ORDER BY v.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023) with the committed k-means fixture "
    "model: assign every vector to its nearest learned cell (the identical "
    "quantized-int64 assignment the IVF queries use — engine-exact), then "
    f"mark a vector dropped when a smaller-id SAME-CELL vector has cosine "
    f"> {_TAU} (keep-lowest-id exemplar rule). The oracle does the naive "
    "within-cell pairwise; the Spark plan first collapses exact-duplicate "
    "vectors so only group representatives enter the pair join — "
    "semantics-exact for tau < 1 and immune to identical-vector mass "
    "(module docstring). Per-vector grain output so the driver hash checks "
    "every keep/drop decision.",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return semdedup_df(e, _IVF_CENTS)


@declare(
    "semantic_dedup_learned",
    oracle=None,  # iterative k-means fit — pinned by tests/test_semdedup.py + TWINS.json
    doc="Production SemDeDup: same pipeline as semantic_dedup but the coarse "
    "quantizer is FIT at call time (operators/kmeans.py, spread init, 4 "
    "Lloyd rounds) instead of read from the committed fixture — the form "
    "you run on a new corpus. Rows-only by necessity; the twin invariants "
    "(planted exact duplicates always dropped, fixture-model agreement on "
    "the well-separated corpus, zero vectors never dropped, determinism "
    "across refits) are pinned in tests/test_semdedup.py and surfaced "
    "per-round in TWINS.json.",
)
def semantic_dedup_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import fit_kmeans

    e = load_table(spark, sf_dir, "embeddings")
    cents = fit_kmeans(e, k=8, iters=4, init="spread")
    return semdedup_df(e, cents)
