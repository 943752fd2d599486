"""The text -> embedding -> hyperplane-LSH near-dup loop, oracle-checked.

``text_embed_near_dup_pairs`` (plans/llm.py) runs the production featurizer
(xxhash64 — JVM-native, no DuckDB twin) and is therefore rows-only checked.
This module supplies the md5 twin, the exact precedent of
``minhash_lsh_pairs`` vs ``minhash_lsh_pairs_fast``: the SAME pipeline with
the word hash swapped for the 60-bit md5-derived hash that DuckDB can
reproduce (hash60_spark / hash60_duck), which makes the ENTIRE loop —
tokenize -> signed-bucket histogram -> L2 normalize -> 8-plane sign code ->
capped buckets -> exact-cosine verify — hash-comparable cross-engine.
Engine-exactness argument: bucket sums are exact small integers, the norm is
the sqrt of an exact integer, IEEE division/sqrt/float-cast are correctly
rounded, and the plane projection + cosine reuse the literal-arithmetic SQL
already proven exact by ``embedding_near_dup_pairs``.

Deliberately declared in a module imported AFTER plans.compose: the driver's
correctness gate hash-compares a bounded prefix of ``queries()`` (50 entries
through round 5), so this module's queries register as oracle-backed entries
#51-53 — appending to the checked set without displacing any
previously-green row. #52/#53 close the CLUSTER side of semantic dedup:
embedding-space connected components over verified cosine pairs, for the
embeddings table and for raw text through the md5 embedder respectively.

Same fixed 8 planes, same cap, same 0.95 threshold, same Hamming-1
multiprobe as the production query — the enrollment (each vector under its
own code plus the 8 codes one bit away) is a 9-branch UNION ALL in the
oracle, so even the recall mechanics are verified cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_DUCK, hash60_duck
from ..functions.vec import _cosine_duck
from ..operators.cc import connected_components
from ..operators.hyperplane import _lsh_bucket_sql
from ..operators.text import BAND_CAP, _spread_docs
from ..sources import load_table
from .registry import declare

_DIMS = 64
_THRESHOLD = 0.95


# DuckDB fragments reproducing operators.embed.embed_texts(hash_mode='md5')
# bit-for-bit. Defined ONCE here and shared with every composition that
# embeds in the oracle (the RAG retrieval index in plans/rag.py groups the
# same fragments by (doc_id, chunk_id) instead of doc_id) — a change to the
# bucket/sign/normalize arithmetic can never fork between them.
EMBED_BUCKET_DUCK = f"CAST(h % {_DIMS} AS INT)"
EMBED_SIGN_DUCK = f"CASE WHEN (h % {2 * _DIMS}) // {_DIMS} = 0 THEN 1 ELSE -1 END"


def embed_sum_cols() -> str:
    """The 64 signed-bucket histogram sums d0..d63 (exact small integers,
    summed engine-neutrally and cast to DOUBLE)."""
    return ",\n             ".join(
        f"CAST(COALESCE(SUM(CASE WHEN b = {i} THEN s END), 0) AS DOUBLE) AS d{i}"
        for i in range(_DIMS)
    )


def embed_norm_expr() -> str:
    """Squared norm over d0..d63 in fixed left-to-right order."""
    return " + ".join(f"d{i} * d{i}" for i in range(_DIMS))


def embed_arr_expr() -> str:
    """The L2-normalized FLOAT[64] literal (zero vector when nrm = 0)."""
    return ", ".join(
        f"CAST(CASE WHEN nrm = 0 THEN 0.0 ELSE d{i} / nrm END AS FLOAT)"
        for i in range(_DIMS)
    )


def _embed_md5_duck_ctes() -> str:
    """DuckDB CTEs embedding every document whole:
    (vec_id, embedding: FLOAT[64])."""
    h = hash60_duck("wd")
    return f"""w AS (
      SELECT doc_id, unnest({W_DUCK}) AS wd
      FROM documents WHERE text IS NOT NULL),
    wb AS (
      SELECT doc_id, {EMBED_BUCKET_DUCK} AS b,
             {EMBED_SIGN_DUCK} AS s
      FROM (SELECT doc_id, {h} AS h FROM w) t),
    agg AS (
      SELECT doc_id,
             {embed_sum_cols()}
      FROM wb GROUP BY doc_id),
    emb AS (
      SELECT doc_id AS vec_id, [{embed_arr_expr()}] AS embedding
      FROM (SELECT *, sqrt({embed_norm_expr()}) AS nrm FROM agg) t)"""


@declare(
    "text_embed_near_dup_pairs_md5",
    oracle=f"""
    WITH {_embed_md5_duck_ctes()},
    b AS (
      SELECT vec_id,
             CAST({_lsh_bucket_sql("embedding[{i}]")} AS BIGINT) AS bucket
      FROM emb),
    enr AS (
      SELECT vec_id, bucket FROM b
      {"".join(f" UNION ALL SELECT vec_id, xor(bucket, {1 << p}) FROM b" for p in range(8))}),
    okb AS (
      SELECT bucket FROM enr GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND {BAND_CAP}),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b2.vec_id AS doc_b
      FROM enr a
      JOIN okb ON okb.bucket = a.bucket
      JOIN enr b2 ON b2.bucket = a.bucket AND a.vec_id < b2.vec_id)
    SELECT doc_a, doc_b,
           round({_cosine_duck('ea.embedding', 'eb.embedding')}, 6) AS cosine
    FROM cand
    JOIN emb ea ON ea.vec_id = doc_a
    JOIN emb eb ON eb.vec_id = doc_b
    WHERE {_cosine_duck('ea.embedding', 'eb.embedding')} >= {_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    doc="The md5 oracle twin of text_embed_near_dup_pairs: documents are "
    "feature-hash embedded with the 60-bit md5-derived word hash "
    "(operators/embed.py hash_mode='md5') and near-dup pairs come from "
    "fixed-8-plane hyperplane LSH (capped buckets, Hamming-1 multiprobe) "
    "verified by exact "
    "cosine — so the full text -> embedding -> ANN loop is DuckDB-checkable "
    "end to end, while the xxhash64 production twin stays benchmarked "
    "(minhash_lsh_pairs / _fast precedent). Cross-twin recall on planted "
    "near-identical texts is asserted in tests/test_embed.py.",
)
def text_embed_near_dup_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.embed import embed_texts
    from ..operators.hyperplane import hyperplane_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    emb = embed_texts(
        _spread_docs(d), dims=_DIMS, hash_mode="md5"
    ).withColumnRenamed("doc_id", "vec_id")
    pairs = hyperplane_near_dup_pairs(
        emb, threshold=_THRESHOLD, id_col="vec_id", n_planes=8, multiprobe=1,
        cap=BAND_CAP,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("sim", 6).alias("cosine"),
    ).orderBy("doc_a", "doc_b")


# transitive closure over symmetric verified edges -> keeper = min reachable
# id: the same alternating-min fixpoint connected_components converges to
# (the CLUSTER_EDGES_FRAGMENT precedent, parameterized on the edge CTE's
# column names)
def _closure_sql(edge_cte: str, a: str, b: str, id_out: str) -> str:
    return f"""
    edges AS (
      SELECT {a} AS a, {b} AS b FROM {edge_cte}
      UNION SELECT {b}, {a} FROM {edge_cte}),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node AS src, node AS dst FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
    SELECT src AS {id_out}, MIN(dst) AS keeper
    FROM reach GROUP BY src ORDER BY {id_out}"""


@declare(
    "embedding_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding,
             CAST({_lsh_bucket_sql("embedding[{i}]")} AS BIGINT) AS bucket
      FROM embeddings),
    okb AS (
      SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND {BAND_CAP}),
    verified AS (
      SELECT a.vec_id AS va, b2.vec_id AS vb
      FROM b a
      JOIN okb ON okb.bucket = a.bucket
      JOIN b b2 ON b2.bucket = a.bucket AND a.vec_id < b2.vec_id
      WHERE {_cosine_duck('a.embedding', 'b2.embedding')} >= 0.3),
    {_closure_sql('verified', 'va', 'vb', 'vec_id')}
    """,
    doc="Embedding-space cluster dedup over the embeddings table — the "
    "semantic twin of dedup_clusters (which clusters in shingle space): "
    "hyperplane-LSH candidates -> exact-cosine-verified pairs -> connected "
    "components -> (vec_id, cluster keeper = min vec_id). Same iterative "
    "label propagation (driver sees one scalar per round), oracle closed "
    "with a RECURSIVE CTE over the same verified-pair SQL. Keep the keeper, "
    "drop the rest: embedding-level semantic dedup as one declared step.",
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    comps = connected_components(pairs, "vec_a", "vec_b")
    return comps.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("keeper")
    ).orderBy("vec_id")


@declare(
    "text_embed_dedup_clusters_md5",
    oracle=f"""
    WITH RECURSIVE {_embed_md5_duck_ctes()},
    b AS (
      SELECT vec_id,
             CAST({_lsh_bucket_sql("embedding[{i}]")} AS BIGINT) AS bucket
      FROM emb),
    enr AS (
      SELECT vec_id, bucket FROM b
      {"".join(f" UNION ALL SELECT vec_id, xor(bucket, {1 << p}) FROM b" for p in range(8))}),
    okb AS (
      SELECT bucket FROM enr GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND {BAND_CAP}),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b2.vec_id AS doc_b
      FROM enr a
      JOIN okb ON okb.bucket = a.bucket
      JOIN enr b2 ON b2.bucket = a.bucket AND a.vec_id < b2.vec_id),
    verified AS (
      SELECT doc_a, doc_b FROM cand
      JOIN emb ea ON ea.vec_id = doc_a
      JOIN emb eb ON eb.vec_id = doc_b
      WHERE {_cosine_duck('ea.embedding', 'eb.embedding')} >= {_THRESHOLD}),
    {_closure_sql('verified', 'doc_a', 'doc_b', 'doc_id')}
    """,
    doc="The COMPLETE semantic-dedup story, oracle-checked end to end: raw "
    "text -> md5 feature-hash embedding -> hyperplane-LSH (multiprobe, "
    "capped buckets) -> exact-cosine verify -> connected components -> "
    "(doc_id, cluster keeper). Catches reworded near-dups that shingle "
    "minhash misses when wording shifts but the word distribution doesn't, "
    "then collapses them transitively exactly like the shingle-space "
    "dedup_clusters. Every stage of the chain is reproduced in the "
    "recursive-CTE oracle.",
)
def text_embed_dedup_clusters_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = text_embed_near_dup_pairs_md5(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("keeper")
    ).orderBy("doc_id")
