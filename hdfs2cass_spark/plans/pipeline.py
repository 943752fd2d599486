"""Training-data-pipeline declared queries beyond the dedup/similarity core:
benchmark decontamination, sequence packing, repetition-quality scoring, and
quota-based corpus mixing.

These are the remaining operators a 100 TB pretraining-data pipeline runs
between "raw corpus" and "training batches" (the dedup/ANN/quality core lives
in plans/llm.py). Cross-engine determinism follows the registry rules: every
hash is md5-derived (identical in Spark and DuckDB), every ratio is a double
division of identical integer operands, every output column is aliased the
same in both engines.

Scale design notes per operator are on each docstring; the shared theme is
that nothing here shuffles the corpus more than once, and the only global
ordering (sequence packing) is computed as a distributed prefix-sum, not a
single-task global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokenize import W_DUCK, W_SPARK, hash60_duck, hash60_spark
from ..operators.ckpt import materialize
from ..operators.text import SHH_DUCK, _spread_docs, shingle_hashes
from ..sources.readers import load_table
from .registry import declare

# Benchmark-set membership: a pure md5 function of doc_id (~5% of docs), the
# same derivation style as train_test_split. In production the benchmark side
# is an actual eval-suite corpus; membership-by-hash keeps the declared query
# self-contained on the fixture tables.
_BENCH_SPARK = hash60_spark("concat('bench:', CAST(doc_id AS STRING))") + " % 20 = 0"
_BENCH_DUCK = hash60_duck("'bench:' || CAST(doc_id AS VARCHAR)") + " % 20 = 0"


@declare(
    "decontamination_overlap",
    oracle=f"""
    WITH sh AS ({SHH_DUCK}),
    bench AS (SELECT DISTINCT h FROM sh WHERE {_BENCH_DUCK}),
    train AS (SELECT * FROM sh WHERE NOT ({_BENCH_DUCK}))
    SELECT train.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(bench.h) AS n_contaminated,
           CAST(COUNT(bench.h) AS DOUBLE) / COUNT(*) AS contam_frac
    FROM train LEFT JOIN bench USING (h)
    GROUP BY train.doc_id
    ORDER BY train.doc_id
    """,
    doc="Benchmark decontamination: per training doc, how many of its distinct "
    "3-word shingles appear anywhere in the benchmark (eval-suite) shingle "
    "set. Membership is checked on 60-bit md5-derived shingle HASHES "
    "(shingle_hashes; the oracle hashes identically) — the broadcast set "
    "and the probe keys are 8-byte ints, not ~25-byte strings. 100 TB "
    "shape: the benchmark set is tiny next to the corpus, so its "
    "distinct-hash table is BROADCAST and the check is a map-side left "
    "join — the corpus is never shuffled, and each training shingle matches "
    "at most one row of a distinct set (no pair amplification).",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(  # (doc_id, h) distinct
        _spread_docs(d).select("doc_id", F.expr(W_SPARK).alias("ws"))
    )
    is_bench = F.expr(_BENCH_SPARK)
    bench = sh.filter(is_bench).select("h").distinct()
    train = sh.filter(~is_bench)
    return (
        train.join(F.broadcast(bench.withColumn("hit", F.lit(1))), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias("contam_frac"),
        )
        .orderBy("doc_id")
    )


# Sequence packing: docs per id-range shard. The shard-offset table has
# n_docs / PACK_SHARD_DOCS rows; operators/prefixsum.py recurses through
# coarser levels whenever a level exceeds ~1e6 rows, so no single task ever
# scans more than that regardless of corpus size.
PACK_SHARD_DOCS = 64
PACK_BUDGET = 256  # tokens per packed training sequence


@declare(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(len({W_DUCK}) AS BIGINT) AS n_tokens FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {PACK_BUDGET} AS BIGINT) AS seq_id
    FROM toks ORDER BY doc_id
    """,
    doc="Sequence packing for LLM training: lay documents end-to-end in "
    "doc_id order on a global token axis and assign each doc to the "
    f"{PACK_BUDGET}-token training sequence its first token lands in "
    "(offset-binned packing — the scalable relaxation of greedy bin packing, "
    "docs may straddle a boundary). The global running offset is a "
    "DISTRIBUTED PREFIX-SUM: per-doc exclusive cumsum inside id-range shards "
    "(partitioned window, parallel) + a tiny per-shard offset table joined "
    "back by broadcast — never a single-task global window over the corpus.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefixsum import exclusive_cumsum

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.expr(f"CAST(size({W_SPARK}) AS BIGINT)").alias("n_tokens")
    )
    packed = exclusive_cumsum(
        toks, "doc_id", "n_tokens", out="start_offset", shard_width=PACK_SHARD_DOCS
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {PACK_BUDGET}").alias("seq_id"),
    ).orderBy("doc_id")


# Bigrams over the materialized words column (same CSE rule as the 3-word
# shingles in functions/tokenize.py: inlining split() into the lambda
# re-tokenizes per element).
_BG_ON_WS_SPARK = (
    "CASE WHEN size(ws) >= 2 THEN "
    "transform(sequence(1, size(ws) - 1), i -> "
    "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1))) "
    "ELSE CAST(array() AS ARRAY<STRING>) END"
)
_BG_DUCK = (
    f"CASE WHEN len({W_DUCK}) >= 2 THEN "
    f"list_transform(generate_series(1, len({W_DUCK}) - 1), i -> "
    f"{W_DUCK}[i] || ' ' || {W_DUCK}[i + 1]) "
    f"ELSE []::VARCHAR[] END"
)


@declare(
    "top_ngram_repetition",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, unnest({_BG_DUCK}) AS g FROM documents
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           MAX(c) AS top_bigram_n,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS rep_frac
    FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Repetition quality signal (Gopher-style): fraction of a document's "
    "word bigrams taken by its single most frequent bigram — high values "
    "flag boilerplate/repetitive text for filtering. Two cascaded "
    "aggregations on the same doc_id key (partial map-side combine on "
    "(doc_id, bigram), then per-doc max/sum riding the SAME partitioning — "
    "one shuffle total), no window, no join.",
)
def top_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bg = (
        _spread_docs(d)
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .select("doc_id", F.explode(F.expr(_BG_ON_WS_SPARK)).alias("g"))
    )
    # ONE exchange for both aggregates (r13): hashpartitioning(doc_id)
    # satisfies the clustering of groupBy(doc_id, g) AND groupBy(doc_id), so
    # an explicit doc_id repartition lets the per-doc rollup ride the same
    # shuffle. The former shape paid TWO corpus-scale exchanges — the
    # (doc_id, g) aggregate's and a re-shuffle of the ~same-sized cnt table
    # by doc_id (map-side combine bought almost nothing: a doc's bigrams are
    # mostly distinct, and each doc's rows already sit in one map partition).
    cnt = bg.repartition(F.col("doc_id")).groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bigram_n"),
            (F.max("c").cast("double") / F.sum("c")).alias("rep_frac"),
        )
        .orderBy("doc_id")
    )


MIX_QUOTA = 3  # kept docs per (lang, source) cell


@declare(
    "corpus_mix_quota",
    oracle=f"""
    SELECT doc_id, lang, source, rk FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents)
    WHERE rk <= {MIX_QUOTA}
    ORDER BY lang, source, rk
    """,
    doc="Quota-based corpus mixing: keep the top-N documents per "
    "(lang, source) cell (largest first, doc_id tiebreak) — the stratified "
    "selection step that balances a training mixture across languages and "
    "sources. One partitioned window (rank inside each cell, fully "
    "parallel); Spark plans it as WindowGroupLimit, pushing the top-N below "
    "the shuffle so only ~N rows per cell per mapper move.",
)
def corpus_mix_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MIX_QUOTA)
        .select("doc_id", "lang", "source", "rk")
        .orderBy("lang", "source", "rk")
    )


SUBSTR_K = 8  # words per duplicated-substring detection window


def substring_gram_positions(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h) — one row per SUBSTR_K-word window position, the
    shared gram table of the exact-substring family (exact_substring_spans
    here, exact_substring_word_spans in plans/spans.py — ONE definition so
    the two queries can never disagree on window hashing).

    Lazy DISK_ONLY localCheckpoint: the gram table feeds TWO branches (the
    dup-set aggregate and the join-back probe) and its explode carries a
    lambda subtree that never passes ReuseExchange — without materialization
    the heaviest map stage would run twice. RDD-level storage (Scan
    ExistingRDD), not SQL cache, so nothing outlives the query. DISK_ONLY:
    the gram table is ~10-20x the corpus row count — at the default
    MEMORY_AND_DISK the stored blocks pin the unified pool (execution can
    only evict storage to 50%) and the downstream 32-way hash aggregate dies
    with AGGREGATE_OUT_OF_MEMORY (observed at the 6.7M-doc skew probe); a
    disk-resident gram table streams into both branches with zero pool
    contention."""
    grams_sql = (
        f"transform(sequence(1, size(ws) - {SUBSTR_K - 1}), i -> "
        + hash60_spark(f"concat_ws(' ', slice(ws, i, {SUBSTR_K}))")
        + ")"
    )
    return materialize(
        _spread_docs(d)
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .filter(F.expr(f"size(ws) >= {SUBSTR_K}"))
        .select("doc_id", F.posexplode(F.expr(grams_sql)).alias("pos0", "h"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )


def substring_dup_flags(pos: DataFrame) -> DataFrame:
    """(h, isdup) — duplicated-gram marking, SKEW-SAFE (round 6): groupBy(h)
    min/max has map-side partial combine, so a hot gram (df in the millions:
    boilerplate present in a third of the corpus) collapses to one row per
    mapper BEFORE the exchange; the join back on h is AQE-skew-splittable.
    The round-5 Window.partitionBy(h) form used one exchange and no join,
    but a window partition cannot be split — every position of the hot gram
    streamed through ONE task (disk-bounded via the spillable row buffer,
    yet a linear straggler that at 100 TB is an hours-long tail). No
    broadcast anywhere: the dup-flag table scales with the corpus and rides
    a shuffle."""
    return pos.groupBy("h").agg((F.min("doc_id") != F.max("doc_id")).alias("isdup"))



@declare(
    "exact_substring_spans",
    oracle=f"""
    WITH w AS (SELECT doc_id, {W_DUCK} AS ws FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - {SUBSTR_K - 1}), i ->
               {{'pos': i, 'h': {hash60_duck(f"array_to_string(list_slice(ws, i, i + {SUBSTR_K - 1}), ' ')")}}})) AS u
      FROM w WHERE len(ws) >= {SUBSTR_K}
    ),
    pos AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g),
    dupset AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY h)
      WHERE df >= 2
    ),
    marked AS (
      SELECT p.doc_id, p.pos, (d.h IS NOT NULL) AS isdup
      FROM pos p LEFT JOIN dupset d USING (h)
    ),
    isl AS (
      SELECT doc_id, isdup,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, isdup ORDER BY pos) AS isl
      FROM marked
    ),
    seg AS (
      SELECT doc_id, isdup, isl, COUNT(*) AS rl FROM isl GROUP BY doc_id, isdup, isl
    )
    SELECT doc_id,
           CAST(SUM(rl) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN isdup THEN rl ELSE 0 END) AS BIGINT) AS n_dup_windows,
           CAST(SUM(CASE WHEN isdup THEN rl ELSE 0 END) AS DOUBLE) / SUM(rl) AS dup_frac,
           CAST(COALESCE(MAX(CASE WHEN isdup THEN rl END), 0) AS BIGINT) AS max_dup_run
    FROM seg GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc=f"Exact-substring duplicate spans (the window-granularity relaxation "
    f"of suffix-array substring dedup — Lee et al. 2022, 'Deduplicating "
    f"Training Data Makes Language Models Better'): every {SUBSTR_K}-word "
    f"window is rolling-hashed; a window position is DUPLICATED when the "
    f"same {SUBSTR_K}-gram occurs in at least one other document. Per doc: "
    f"window count, duplicated-window count/fraction, and the longest "
    f"consecutive duplicated run (max_dup_run + {SUBSTR_K - 1} words = the "
    f"longest duplicated substring, the span a scrubber would cut). Docs "
    f"shorter than {SUBSTR_K} words have no windows and are excluded. "
    f"100 TB shape: the gram table is materialized ONCE (localCheckpoint), "
    f"then duplicated positions are marked by a groupBy(h) min/max aggregate "
    f"(min(doc_id) != max(doc_id) == the gram occurs in >= 2 docs) joined "
    f"back on h — map-side partial combine collapses a hot gram's rows per "
    f"mapper BEFORE the shuffle, and the join-back's hot partition is "
    f"AQE-skew-splittable, so no single task ever streams a "
    f"df-in-the-billions gram (the Window.partitionBy(h) form this replaced "
    f"sent every position of one hot gram to ONE linear task — disk-bounded "
    f"but an hours-long straggler at adversarial scale); still no broadcast "
    f"of a dup-set that scales with the corpus, no suffix array, no driver "
    f"state. Then ONE (doc_id, isdup)-partitioned window marks "
    f"gaps-and-islands run ids and two cascaded aggregations (run segments, "
    f"then per-doc stats) ride that same shuffle — counts, fraction, AND "
    f"longest run come out of a single pass over the checkpointed grams.",
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pos = substring_gram_positions(d)
    dupflag = substring_dup_flags(pos)
    marked = pos.join(dupflag, "h").select("doc_id", "pos", "isdup")
    # gaps-and-islands over BOTH dup and non-dup rows in one window: the
    # island id is constant within each consecutive same-flag run, so run
    # lengths, totals, and the longest dup run all fall out of two cascaded
    # aggregations on prefixes of the window's partitioning — no branch, no
    # self-join, the gram subtree evaluates once
    wnd = Window.partitionBy("doc_id", "isdup").orderBy("pos")
    seg = (
        marked.withColumn("isl", F.col("pos") - F.row_number().over(wnd))
        .groupBy("doc_id", "isdup", "isl")
        .agg(F.count(F.lit(1)).alias("rl"))
    )
    dup_rl = F.when(F.col("isdup"), F.col("rl"))
    return (
        seg.groupBy("doc_id")
        .agg(
            F.sum("rl").alias("n_windows"),
            F.coalesce(F.sum(dup_rl), F.lit(0).cast("long")).alias("n_dup_windows"),
            (
                F.coalesce(F.sum(dup_rl), F.lit(0).cast("long")).cast("double")
                / F.sum("rl")
            ).alias("dup_frac"),
            F.coalesce(F.max(dup_rl), F.lit(0).cast("long")).alias("max_dup_run"),
        )
        .orderBy("doc_id")
    )


CHUNK_WORDS = 64  # words per chunk
CHUNK_OVERLAP = 16  # words shared between consecutive chunks
_CHUNK_STRIDE = CHUNK_WORDS - CHUNK_OVERLAP

# The chunk GRID, defined ONCE for every consumer (chunk_documents here,
# the RAG retrieval index in plans/rag.py) so a boundary-handling change
# can never fork the grid between queries that claim the same chunking.
# Over a row with columns n (word count) and chunk_id: the last chunk
# index, the 1-based start word, and the chunk's word count (final chunk
# keeps the >=1-word tail). Spark and DuckDB differ only in the
# integer-div spelling (div vs //).
CHUNK_LAST_SPARK = (
    f"CASE WHEN n <= {CHUNK_WORDS} THEN 0 "
    f"ELSE ((n - {CHUNK_WORDS} + {_CHUNK_STRIDE} - 1) div {_CHUNK_STRIDE}) END"
)
CHUNK_LAST_DUCK = (
    f"CASE WHEN n <= {CHUNK_WORDS} THEN 0 "
    f"ELSE (n - {CHUNK_WORDS} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE} END"
)
CHUNK_START = f"(chunk_id * {_CHUNK_STRIDE} + 1)"  # identical on both engines
CHUNK_NWORDS = f"least({CHUNK_WORDS}, n - chunk_id * {_CHUNK_STRIDE})"  # ditto


@declare(
    "chunk_documents",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {W_DUCK} AS ws, len({W_DUCK}) AS n
      FROM documents WHERE text IS NOT NULL AND len({W_DUCK}) >= 1),
    c AS (
      SELECT doc_id, ws, n,
             unnest(generate_series(0, {CHUNK_LAST_DUCK})) AS chunk_id
      FROM w)
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST({CHUNK_START} AS BIGINT) AS start_word,
           CAST({CHUNK_NWORDS} AS BIGINT) AS n_chunk_words,
           {hash60_duck(f"array_to_string(list_slice(ws, {CHUNK_START}, chunk_id * {_CHUNK_STRIDE} + {CHUNK_NWORDS}), ' ')")} AS chunk_fp
    FROM c ORDER BY doc_id, chunk_id
    """,
    doc=f"Document chunking for embedding/RAG pipelines — the 1->N dual of "
    f"pack_sequences: split each doc into {CHUNK_WORDS}-word chunks with "
    f"{CHUNK_OVERLAP} words of overlap (stride {_CHUNK_STRIDE}); the final "
    f"chunk keeps the tail (>= 1 word). Emits each chunk's start offset, "
    f"length, and an md5-derived digest of its exact text — the oracle "
    f"verifies the precise chunk CONTENT cross-engine without shipping "
    f"strings (same digest trick as the PII scrub). Pure column arithmetic: "
    f"chunk starts come from a sequence() expression, the 1->N explode is "
    f"codegen'd, nothing shuffles until the presentation sort — at 100 TB "
    f"chunking is a map-only stage.",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .select("doc_id", "ws", F.size("ws").alias("n"))
        .filter(F.col("n") >= 1)
    )
    start, ncw = CHUNK_START, CHUNK_NWORDS
    return (
        ws.select(
            "doc_id",
            "ws",
            "n",
            F.explode(F.expr(f"sequence(0, {CHUNK_LAST_SPARK})")).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.expr(start).cast("long").alias("start_word"),
            F.expr(ncw).cast("long").alias("n_chunk_words"),
            F.expr(
                hash60_spark(f"concat_ws(' ', slice(ws, {start}, {ncw}))")
            ).alias("chunk_fp"),
        )
        # barrier-before-orderBy: the child is map-only (plans/present.py)
        .repartition("doc_id")
        .orderBy("doc_id", "chunk_id")
    )
