"""Bloom-filter benchmark decontamination — the FIXED-SIZE twin of the
broadcast-shingle-set check (plans/pipeline.py decontamination_overlap).

decontamination_overlap broadcasts the benchmark's DISTINCT shingle-hash
table: exact, but the broadcast grows with the benchmark suite (a modern
eval battery is tens of millions of shingles — hundreds of MB on every
executor). This operator compresses the benchmark side into a Bloom
filter of M_BITS bits (BLOOM_K derived bit positions per shingle, OR-folded
into N_WORDS int64 words): the probe side ships ~33 KB TOTAL regardless
of benchmark size, at the price of a quantified false-positive rate —
one-sided: a contaminated shingle is NEVER missed (no false negatives, the
Bloom guarantee), a clean one is occasionally flagged
(FP ~ (1 - e^(-K*n/M))^K; the committed M/K give ~1.6e-6 per shingle at
the fixture's ~6k bench shingles — production sizes M to the real suite,
~14-20 bits per expected benchmark shingle).

Everything is engine-exact md5 arithmetic so the whole filter — build and
probe — hash-matches DuckDB: the BLOOM_K bit positions come from double
hashing (Kirsch & Mitzenmacher 2006, "Less Hashing, Same Performance":
p_i = (h1 + i*h2) mod M with h1/h2 the two halves of the shared 60-bit
shingle hash, h2 forced odd — asymptotically the FP rate of K independent
hashes from ONE hash evaluation), words use 62 bits each so no mask ever
touches the int64 sign bit, and the per-doc outputs are integer counts +
one double division. The first cut used K disjoint 12-bit hash slices,
which caps M at 4096 — measured 92% doc-level FP on the fixture; double
hashing frees M and K from the hash width.

100 TB shape: the filter builds with ONE map-side-combined bit_or
aggregate over the (tiny) benchmark side; the N_WORDS words are collected
driver-side (bounded model rows — the k-means-centroid class, <= 4229
scalars, a plan-time constant)
and probed as a FOLDED LITERAL ARRAY in pure codegen column expressions:
the corpus is scanned once, map-only, never shuffled, and nothing on any
executor scales with the benchmark.

Reference framing: no decontamination surface exists in the reference
(SURVEY.md §1.4) — extension surface; exactness semantics pinned against
decontamination_overlap in tests/test_bloom.py (flagged ⊇ exactly
contaminated, never a miss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_SPARK
from ..operators.text import SHH_DUCK, _spread_docs, shingle_hashes
from ..sources.readers import load_table
from .pipeline import _BENCH_DUCK, _BENCH_SPARK
from .registry import declare

M_BITS = 1 << 18  # filter bits; ~1.6e-6 per-shingle FP at the fixture's ~6k
BLOOM_K = 7  # bit positions per shingle (double-hashed)
_BPW = 62  # bits per int64 word — bit 62/63 never used, no sign-bit traps
N_WORDS = (M_BITS + _BPW - 1) // _BPW  # 4229 (~33 KB — the probe constant)


def _pos(i: int, h: str = "h") -> str:
    """Bit position i by double hashing: (h1 + i*h2) mod M, h1 = low 30
    bits, h2 = high 30 bits forced odd (2x+1 — h2=0 would collapse all K
    positions onto h1). Max intermediate ~2^34: no int64 overflow.
    Identical text in Spark and DuckDB: >> / % on non-negative int64."""
    return f"((({h} % 1073741824) + {i} * (2 * ({h} >> 30) + 1)) % {M_BITS})"


def _duck_hit() -> str:
    conds = " AND ".join(
        f"(bl[CAST({_pos(i)} // {_BPW} AS INTEGER) + 1] & "
        f"(CAST(1 AS BIGINT) << CAST({_pos(i)} % {_BPW} AS INTEGER))) <> 0"
        for i in range(BLOOM_K)
    )
    return f"CASE WHEN {conds} THEN 1 ELSE 0 END"


_BLOOM_ORACLE = f"""
    WITH sh AS ({SHH_DUCK}),
    bench AS (SELECT DISTINCT h FROM sh WHERE {_BENCH_DUCK}),
    train AS (SELECT doc_id, h FROM sh WHERE NOT ({_BENCH_DUCK})),
    bpos AS (
      SELECT unnest([{", ".join(_pos(i) for i in range(BLOOM_K))}]) AS p
      FROM bench),
    bw AS (
      SELECT CAST(p // {_BPW} AS INTEGER) AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {_BPW} AS INTEGER)) AS v
      FROM bpos GROUP BY 1),
    dense AS (
      SELECT gs.w AS w, COALESCE(bw.v, 0) AS v
      FROM (SELECT unnest(generate_series(0, {N_WORDS - 1})) AS w) gs
      LEFT JOIN bw USING (w)),
    bloom AS (SELECT list(v ORDER BY w) AS bl FROM dense),
    probe AS (
      SELECT t.doc_id, {_duck_hit()} AS hit
      FROM train t CROSS JOIN bloom)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS bloom_frac,
           (SUM(hit) > 0) AS flagged
    FROM probe GROUP BY doc_id ORDER BY doc_id
    """


def bloom_word_rows(bench_hashes: DataFrame) -> DataFrame:
    """(w, v) sparse filter words: one map-side-combined bit_or aggregate
    over the benchmark shingle hashes. Shared by the batch build (collected
    below) and the streaming enrollment (streaming/bloom.py, where per-batch
    word rows accumulate in an index whose compaction fold is the same
    bit_or — idempotent and order-independent, so replays and out-of-order
    arrival cannot change the filter)."""
    return (
        bench_hashes.select(
            F.explode(
                F.array(*[F.expr(_pos(i)) for i in range(BLOOM_K)])
            ).alias("p")
        )
        .select(
            F.expr(f"CAST(p DIV {_BPW} AS INT)").alias("w"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BPW} AS INT))").alias(
                "m"
            ),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("v"))
    )


def dense_words(rows) -> list[int]:
    """Sparse (w, v) rows -> the dense N_WORDS list the probe literal wants."""
    words = [0] * N_WORDS
    for r in rows:
        words[r["w"]] = r["v"]
    return words


def bloom_words(bench_hashes: DataFrame) -> list[int]:
    """Build the filter and collect the <= N_WORDS words (bounded model
    rows, never corpus data). Returns the dense word list."""
    return dense_words(bloom_word_rows(bench_hashes).collect())


def bloom_probe_df(train: DataFrame, words: list[int]) -> DataFrame:
    """Probe (doc_id, h) rows against the filter literal: pure codegen
    column expressions over a constant-folded array — map-only, the corpus
    is never shuffled (the final per-doc aggregate combines map-side).

    The literal is rendered as ONE SQL text and parsed JVM-side: the former
    ``F.array(*[F.lit(x) for x in words])`` made N_WORDS py4j round-trips
    (~2.3 s of driver time PER CALL at 4229 words — r13 profile: probe_build
    3.7-4.7 s/pass, almost all of it this loop); the rendered form builds in
    ~5 ms and folds to the identical bigint array literal."""
    bloom = F.expr("array(" + ",".join(f"{int(x)}L" for x in words) + ")")
    conds = [
        F.expr(
            f"(element_at(_bl, CAST({_pos(i)} DIV {_BPW} AS INT) + 1) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST({_pos(i)} % {_BPW} AS INT))) <> 0"
        )
        for i in range(BLOOM_K)
    ]
    all_set = conds[0]
    for c in conds[1:]:
        all_set = all_set & c
    return (
        train.withColumn("_bl", bloom)
        .select("doc_id", F.when(all_set, 1).otherwise(0).alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("hit").alias("n_bloom_hits"),
            (F.sum("hit").cast("double") / F.count(F.lit(1))).alias("bloom_frac"),
            (F.sum("hit") > 0).alias("flagged"),
        )
        .orderBy("doc_id")
    )


@declare(
    "bloom_decontamination",
    oracle=_BLOOM_ORACLE,
    doc=f"Bloom-filter benchmark decontamination: the benchmark shingle set "
    f"compressed into a {M_BITS}-bit filter ({BLOOM_K} double-hashed bit "
    f"positions per shingle - Kirsch-Mitzenmacher, {N_WORDS} int64 words) probed by "
    f"every training shingle — per doc: shingle count, bloom-hit count/"
    f"fraction, flagged. One-sided error pinned vs the exact broadcast-set "
    f"check (flagged superset, zero misses; FP rate is the documented "
    f"price of a ~33 KB probe side that stays CONSTANT as the benchmark "
    f"suite grows, where the exact check's broadcast grows linearly). "
    f"100 TB shape: filter built by one bit_or aggregate on the tiny bench "
    f"side, collected as bounded model rows, probed as a constant-folded "
    f"literal in map-only codegen — the corpus is scanned once and never "
    f"shuffled. Engine-exact: both engines evaluate the identical shift/"
    f"mod/mask arithmetic over the shared md5-derived shingle hashes.",
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.expr(_BENCH_SPARK)
    # Filter-build side (eager: bloom_words collects the words): the bench
    # predicate is doc-level, so filter FIRST and shingle only bench docs —
    # no corpus-wide _spread_docs repartition on this side — and skip the
    # former global .distinct(): bit_or is duplicate-insensitive, so the
    # distinct exchange bought nothing (r13: the build job dropped from 3
    # exchanges over the corpus-spread scan to 1 over ~1/20 of the docs;
    # identical filter words by construction).
    bench_sh = shingle_hashes(d.filter(is_bench).select(F.expr(W_SPARK).alias("ws")))
    words = bloom_words(bench_sh)
    sh = shingle_hashes(  # (doc_id, h) distinct per doc
        _spread_docs(d).select("doc_id", F.expr(W_SPARK).alias("ws"))
    )
    return bloom_probe_df(sh.filter(~is_bench), words)
