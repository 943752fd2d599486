"""RAG retrieval-index composition, oracle-checked end to end (oracle row 61).

``rag_chunk_retrieval_md5`` builds the complete retrieval index a RAG
pipeline runs over a curated corpus — chunk every document (the exact
chunk_documents grid: 64-word chunks, 16-word overlap), feature-hash embed
every CHUNK (operators/embed.py, md5 hash mode so DuckDB can reproduce the
vectors bit-for-bit), embed the query documents whole, and retrieve the
top-5 chunks per query by exact cosine, excluding the query document's own
chunks (self-retrieval is always pruned in evaluation setups).

Engine-exactness inherits from the proven fragments it composes: the chunk
grid is chunk_documents' integer arithmetic, the embedding is
text_embed_near_dup_pairs_md5's exact-integer histogram + correctly-rounded
normalize, and cosine/rank are embedding_topk_cosine's literal arithmetic.

100 TB shape: chunking is map-only 1->N; the chunk embedding is ONE
map-side-combined HashAggregate over exploded words (the same single
exchange as the doc embedder — the group key is just (doc, chunk)); the
query side is tiny and broadcast; ranking is row_number ->
WindowGroupLimit, partial top-k before the shuffle. Nothing materializes
the chunk text corpus-wide — the chunk string exists only inside the
embed explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokenize import W_DUCK, W_SPARK, hash60_duck, words_duck
from ..functions.vec import _cosine_duck, _cosine_prenormed
from ..functions.vec import norm_sql as _norm_sql
from ..sources import load_table
from .pipeline import (
    CHUNK_LAST_DUCK,
    CHUNK_LAST_SPARK,
    CHUNK_NWORDS,
    CHUNK_OVERLAP,
    CHUNK_START,
    CHUNK_WORDS,
)
from .registry import declare
from .textembed import (
    EMBED_BUCKET_DUCK,
    EMBED_SIGN_DUCK,
    _embed_md5_duck_ctes,
    embed_arr_expr,
    embed_norm_expr,
    embed_sum_cols,
)

_DIMS = 64
_RAG_K = 5
_N_QUERIES = 3

# shared fragments — the chunk grid is chunk_documents' (plans/pipeline.py)
# and the embed arithmetic is textembed's, grouped by (doc_id, chunk_id)
_CSUMS = embed_sum_cols()
_CNORM = embed_norm_expr()
_CARR = embed_arr_expr()


def _retrieval_ctes(with_vec: bool = False) -> str:
    """The chunk -> embed -> rank CTE chain (emb .. ranked) shared by the
    retrieval oracle and the MMR-rerank oracle. ``with_vec`` additionally
    carries each candidate chunk's embedding and its L2 norm through sims/
    ranked (the MMR oracle needs candidate-candidate similarities)."""
    vec_sel = (
        ",\n             c.cembedding AS cembedding,\n"
        "             sqrt(list_sum(list_transform(range(1, 65), i -> "
        "c.cembedding[i]::DOUBLE * c.cembedding[i]::DOUBLE))) AS cn"
        if with_vec
        else ""
    )
    vec_carry = ", cembedding, cn" if with_vec else ""
    return f"""{_embed_md5_duck_ctes()},
    cgrid AS (
      SELECT doc_id, ws, n,
             unnest(generate_series(0, {CHUNK_LAST_DUCK})) AS chunk_id
      FROM (SELECT doc_id, {W_DUCK} AS ws, len({W_DUCK}) AS n
            FROM documents WHERE text IS NOT NULL AND len({W_DUCK}) >= 1) w),
    chunks AS (
      SELECT doc_id, chunk_id,
             array_to_string(list_slice(ws, {CHUNK_START},
               {CHUNK_START} - 1 + {CHUNK_NWORDS}), ' ') AS ctext
      FROM cgrid),
    cw AS (
      SELECT doc_id, chunk_id, unnest({words_duck('ctext')}) AS wd
      FROM chunks),
    cb AS (
      SELECT doc_id, chunk_id, {EMBED_BUCKET_DUCK} AS b,
             {EMBED_SIGN_DUCK} AS s
      FROM (SELECT doc_id, chunk_id, {hash60_duck('wd')} AS h FROM cw) t),
    cagg AS (
      SELECT doc_id, chunk_id,
             {_CSUMS}
      FROM cb GROUP BY doc_id, chunk_id),
    cemb AS (
      SELECT doc_id, chunk_id, [{_CARR}] AS cembedding
      FROM (SELECT *, sqrt({_CNORM}) AS nrm FROM cagg) t),
    sims AS (
      SELECT q.vec_id AS q_id, c.doc_id, c.chunk_id,
             round({_cosine_duck('q.embedding', 'c.cembedding')}, 6) AS cosine{vec_sel}
      FROM (SELECT * FROM emb WHERE vec_id < {_N_QUERIES}) q
      CROSS JOIN cemb c
      WHERE c.doc_id <> q.vec_id
        AND {_cosine_duck('q.embedding', 'c.cembedding')} IS NOT NULL),
    ranked AS (
      SELECT q_id, doc_id, chunk_id, cosine{vec_carry},
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, doc_id, chunk_id) AS rnk
      FROM sims)"""


@declare(
    "rag_chunk_retrieval_md5",
    oracle=f"""
    WITH {_retrieval_ctes()}
    SELECT q_id, doc_id, chunk_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_RAG_K} ORDER BY q_id, rnk
    """,
    doc=f"RAG retrieval-index composition: chunk every document "
    f"({CHUNK_WORDS}-word chunks, {CHUNK_OVERLAP} overlap — the "
    f"chunk_documents grid), md5-feature-hash embed every CHUNK, embed the "
    f"first {_N_QUERIES} docs whole as queries, retrieve top-{_RAG_K} "
    f"chunks per query by exact cosine with the query doc's own chunks "
    f"excluded. The full chunk -> embed -> retrieve loop is DuckDB-checked "
    f"bit-for-bit (composes the proven chunk/embed/cosine fragments). "
    f"Scale: map-only chunking, one map-side-combined embed aggregate, "
    f"broadcast query side, WindowGroupLimit top-k.",
)
def rag_chunk_retrieval_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rag_retrieve_df(load_table(spark, sf_dir, "documents"), hash_mode="md5")


@declare(
    "rag_chunk_retrieval",
    oracle=None,
    doc="The production twin of rag_chunk_retrieval_md5: identical chunk -> "
    "embed -> retrieve pipeline with the JVM-native xxhash64 word hash "
    "(measured ~1.4x over the md5 twin at sf0.1 — conv(substr(md5())) is "
    "the oracle tax). Rows-only checked by design (xxhash64 has no DuckDB "
    "twin); the md5 twin hash-verifies the full pipeline and the planted "
    "exact-copy test pins both twins ranking the clone first "
    "(tests/test_quality.py) — the minhash_lsh_pairs / _fast precedent.",
)
def rag_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rag_retrieve_df(load_table(spark, sf_dir, "documents"), hash_mode="xxhash64")


def chunk_embeddings(
    d: DataFrame, dims: int = _DIMS, hash_mode: str = "xxhash64"
) -> DataFrame:
    """(doc_id, chunk_id, cembedding) — the chunk-grid + feature-hash-embed
    front of the retrieval chain, factored out so the streaming RAG index
    (streaming/rag.py) ingests EXACTLY the batch arithmetic: same
    chunk_documents grid, same embed aggregate, so the accumulated index is
    row-identical to a batch re-embed of the same corpus."""
    from ..operators.embed import embed_texts

    ws = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .select("doc_id", "ws", F.size("ws").alias("n"))
        .filter(F.col("n") >= 1)
    )
    chunks = (
        ws.select(
            "doc_id",
            "ws",
            "n",
            F.explode(F.expr(f"sequence(0, {CHUNK_LAST_SPARK})")).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.expr(
                f"array_join(slice(ws, {CHUNK_START}, {CHUNK_NWORDS}), ' ')"
            ).alias("ctext"),
        )
    )
    # one STRUCT embed key per chunk (embed_texts groups on a single column;
    # a packed-bigint key would wrap silently past 2^k chunks per doc)
    ckey = F.struct(F.col("doc_id"), F.col("chunk_id")).alias("ck")
    return embed_texts(
        chunks.select(ckey, "ctext"),
        dims=dims,
        id_col="ck",
        text_col="ctext",
        out_col="cembedding",
        hash_mode=hash_mode,
    ).select(
        F.col("ck.doc_id").alias("doc_id"),
        F.col("ck.chunk_id").alias("chunk_id"),
        "cembedding",
    )


def query_embeddings(
    d: DataFrame,
    n_queries: int = _N_QUERIES,
    dims: int = _DIMS,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(q_id, qe) — the whole-document query-side embeddings (docs with
    doc_id < n_queries), shared by the batch retrieval and the streaming
    index's query table."""
    from ..operators.embed import embed_texts

    return embed_texts(
        d.filter(F.col("doc_id") < n_queries), dims=dims, hash_mode=hash_mode
    ).select(
        F.col("doc_id").alias("q_id"),
        F.col("embedding").alias("qe"),
    )


def retrieve_topk(
    cemb: DataFrame, qemb: DataFrame, k: int = _RAG_K, keep_vectors: bool = False
) -> DataFrame:
    """The retrieval tail over pre-embedded sides: ``cemb`` (doc_id,
    chunk_id, cembedding), ``qemb`` (q_id, qe) -> exact-cosine top-k per
    query, self-doc excluded. Norms are derived from the vectors here (sqrt
    and multiply are correctly rounded, so the values are bit-identical
    whether the norm was computed at embed time or at read time — the
    streaming index stores vectors only). Shared by rag_retrieve_df and
    streaming/rag.py rag_report_from_index.

    EXACT BASELINE ONLY: this scores every query against EVERY chunk
    (O(queries x chunks) per report) — the oracle-checkable ground truth,
    not the scale path. At corpus scale route retrieval through
    :func:`retrieve_topk_ann` (hyperplane-LSH bucketed candidates, recall
    pinned >= 0.9 vs this function in tests/test_rag_ann.py), mirroring
    how brute-force cosine routes to the IVF twins."""
    c = cemb.select(
        "doc_id", "chunk_id", "cembedding",
        F.expr(_norm_sql("cembedding")).alias("_cn"),
    )
    q = qemb.select("q_id", "qe", F.expr(_norm_sql("qe")).alias("_qn"))
    vec_cols = ["cembedding"] if keep_vectors else []
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("doc_id") != F.col("q_id"))
        .select(
            "q_id",
            "doc_id",
            "chunk_id",
            F.round(_cosine_prenormed("qe", "cembedding", "_qn", "_cn"), 6).alias(
                "cosine"
            ),
            *vec_cols,
        )
        .filter(F.col("cosine").isNotNull())
    )
    ranked = sims.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(
                F.col("cosine").desc(), "doc_id", "chunk_id"
            )
        ),
    )
    return (
        ranked.filter(F.col("rnk") <= k)
        .select(
            "q_id", "doc_id", "chunk_id", "cosine",
            F.col("rnk").cast("int").alias("rnk"), *vec_cols,
        )
        .orderBy("q_id", "rnk")
    )


def retrieve_topk_ann(
    cemb: DataFrame,
    qemb: DataFrame,
    k: int = _RAG_K,
    n_planes: int | None = None,
    radius: int = 3,
    seed: int | None = None,
) -> DataFrame:
    """ANN retrieval: hyperplane-LSH bucketed candidates + exact cosine on
    the candidates only — the production twin of :func:`retrieve_topk`
    (same output contract: top-k per query, self-doc excluded, identical
    column set/tiebreaks), with cost bounded by bucket load instead of
    corpus size.

    Shape (the 100 TB path):
      - every chunk gets a p-bit sign code AND carries its vector through
        the SAME scan (operators/hyperplane.py _with_code keep=), so the
        chunk side is never re-joined or shuffled;
      - each query's code is expanded into its Hamming-<=radius ball
        (probe_masks — parameter metadata, sum C(p, r) masks) and the probe
        table (queries x masks rows, with the query vectors riding along)
        is BROADCAST against the coded chunk scan: candidate generation is
        map-side, zero chunk-side exchanges;
      - exact cosine is evaluated ONLY on bucket-matched candidates
        (expected per-query candidates ~ n_probes x N/2^p — with
        ``n_planes=None`` p is derived from a plan-time count so the
        expected bucket load stays ~DEFAULT_CAP/2 at ANY corpus size);
      - the only exchange is the final tiny top-k window on q_id.

    Recall: P(bit agrees) = 1 - angle/pi per plane, so true near neighbors
    differ in few bits and the radius-3 ball recovers them; measured 1.0 at
    the sf0.01 fixture shape with p=8 (the committed floor is >= 0.9,
    tests/test_rag_ann.py — the IVF-twin pin pattern). Worst case (all
    vectors identical-direction) degrades to the exact scan's cost for the
    affected queries, never worse — candidate generation is linear in
    bucket-matched rows, no pair expansion exists on this path.
    """
    from ..operators.hyperplane import (
        DEFAULT_SEED,
        _with_code,
        derive_n_planes,
        lsh_planes,
        probe_masks,
    )

    if n_planes is None:
        # Deriving p needs a plan-time count, which would EXECUTE the chunk
        # computation once for the count and again for the join below.
        # Materialize it first (localCheckpoint -> executor-local blocks)
        # so both consumers read the same files; callers with a known
        # corpus scale should pass n_planes explicitly and skip this pass
        # entirely (the declared query passes n_planes=8).
        cemb = cemb.localCheckpoint(eager=True)
        n_planes = derive_n_planes(cemb.count())
    planes = lsh_planes(n_planes, _DIMS, DEFAULT_SEED if seed is None else seed)

    ck = cemb.select(F.struct("doc_id", "chunk_id").alias("ckey"), "cembedding")
    coded = _with_code(ck, planes, "ckey", "cembedding", keep=("cembedding",)).select(
        F.col("_id.doc_id").alias("doc_id"),
        F.col("_id.chunk_id").alias("chunk_id"),
        "cembedding",
        F.expr(_norm_sql("cembedding")).alias("_cn"),
        "code",
    )
    qc = _with_code(qemb, planes, "q_id", "qe", keep=("qe",)).select(
        F.col("_id").alias("q_id"), "qe", F.expr(_norm_sql("qe")).alias("_qn"), "code"
    )
    masks = qemb.sparkSession.createDataFrame(
        [(m,) for m in probe_masks(n_planes, radius)], "mask long"
    )
    # distinct masks => distinct probe codes per query (code^m1 == code^m2
    # iff m1 == m2), so no dedup is needed after the expansion
    probes = qc.crossJoin(masks).select(
        "q_id", "qe", "_qn", F.col("code").bitwiseXOR(F.col("mask")).alias("code")
    )
    sims = (
        coded.join(F.broadcast(probes), "code")
        .filter(F.col("doc_id") != F.col("q_id"))
        .select(
            "q_id",
            "doc_id",
            "chunk_id",
            F.round(_cosine_prenormed("qe", "cembedding", "_qn", "_cn"), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine").isNotNull())
    )
    ranked = sims.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(
                F.col("cosine").desc(), "doc_id", "chunk_id"
            )
        ),
    )
    return (
        ranked.filter(F.col("rnk") <= k)
        .select(
            "q_id", "doc_id", "chunk_id", "cosine", F.col("rnk").cast("int").alias("rnk")
        )
        .orderBy("q_id", "rnk")
    )


@declare(
    "rag_retrieval_ann",
    oracle=None,
    doc=f"Production ANN path for RAG retrieval: hyperplane-LSH (p=8 sign "
    f"bits, Hamming-radius-3 query multiprobe) candidate buckets + exact "
    f"cosine on candidates only, top-{_RAG_K} per query, self-doc excluded "
    f"— the scale twin of rag_chunk_retrieval (exact scan). Rows-only by "
    f"design (the LSH bucketing has no DuckDB twin at the xxhash64 embed); "
    f"correctness is pinned by recall >= 0.9 vs the oracle-checked exact "
    f"path at sf0.01 (measured 1.0) plus identical output contract "
    f"(tests/test_rag_ann.py). Scale: coded chunk scan (vectors ride the "
    f"scan, zero chunk-side shuffles), broadcast probe table, cosine only "
    f"on bucket-matched candidates, one tiny top-k window exchange.",
)
def rag_retrieval_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return retrieve_topk_ann(
        chunk_embeddings(d), query_embeddings(d), n_planes=8, radius=3
    )


def rag_retrieve_df(
    d: DataFrame,
    k: int = _RAG_K,
    n_queries: int = _N_QUERIES,
    hash_mode: str = "xxhash64",
    keep_vectors: bool = False,
) -> DataFrame:
    """Composable form over any (doc_id, text, ...) DataFrame.
    ``keep_vectors`` carries each hit's chunk embedding through the top-k
    (the MMR reranker consumes candidate-candidate similarities)."""
    return retrieve_topk(
        chunk_embeddings(d, hash_mode=hash_mode),
        query_embeddings(d, n_queries=n_queries, hash_mode=hash_mode),
        k=k,
        keep_vectors=keep_vectors,
    )
