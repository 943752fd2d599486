"""Shared text-similarity operators: scan spreading, 3-word shingles and their
60-bit hashes, minhash signatures, LSH bands and Jaccard verification.

Every declared near-dup / decontamination query (plans/) and the streaming
twins build on these, so each decision — shingle shape, hash family, band
layout, bucket cap — is made once, here.

Cross-engine determinism: every hash used here is derived from md5 (identical
in Spark and DuckDB) truncated to 60 bits — ``hash60_spark`` /
``hash60_duck`` (functions/tokenize.py). The xxhash64 ``fast`` minhash family
is the one deliberate exception and is never oracle-checked.

Scale design (the point of these operators at 100 TB): candidate pairs come
from banded signature equality, never an all-pairs join. Cost ~ O(docs x
bands) shuffle + per-bucket pair expansion, with buckets over ``BAND_CAP``
dropped before the expansion.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import SH_DUCK, SH_ON_WS_SPARK, W_SPARK, hash60_duck, hash60_spark
from .buckets import bucket_pairs, capped_buckets

# (app, plan, input files, split confs, parallelism) -> Spark's scan partition
# count. `df.rdd` costs 30-40 ms of plan->RDD conversion per call; callers
# rebuild the same plan over the same files many times per session.
_NUM_PARTITIONS: dict[tuple, int] = {}


def _num_partitions(df: DataFrame) -> int:
    spark = df.sparkSession
    sc = spark.sparkContext
    key = (
        sc.applicationId,
        df.semanticHash(),
        tuple(df.inputFiles()),
        *(
            spark.conf.get(f"spark.sql.files.{k}", None)
            for k in ("maxPartitionBytes", "openCostInBytes", "minPartitionNum")
        ),
        sc.defaultParallelism,
    )
    n = _NUM_PARTITIONS.get(key)
    if n is None:
        n = _NUM_PARTITIONS[key] = df.rdd.getNumPartitions()
    return n


def _spread_docs(df: DataFrame) -> DataFrame:
    """Ensure scan parallelism before an explode-heavy stage.

    A compact local documents file is one parquet row group = ONE task, and
    explode amplifies each row ~words-fold — so below-parallelism scans are
    repartitioned by doc_id before the explode. When the scan already has
    enough splits (any real multi-file corpus — at 100 TB the file listing
    gives ~100k+ splits) this is a NO-OP: shipping the whole raw-text corpus
    through an exchange just to "spread" it would be a pure waste there, and
    the previous unconditional repartition did exactly that. The check reads
    Spark's own partition count for the plan (no job runs on a scan), memoized
    per session.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df if 2 * _num_partitions(df) >= n else df.repartition(n, "doc_id")


# a row's distinct 3-word shingles as one in-row array over `ws`
DISTINCT_SHINGLES = f"array_distinct({SH_ON_WS_SPARK})"


def shingles(words_df: DataFrame) -> DataFrame:
    """(..., s): distinct 3-word shingles of the ``ws`` words column, one row
    each, carrying every other column of ``words_df``.

    Distinctness is PER ROW, and every shingle of a doc sits in one array
    before the explode — so the dedup is array_distinct IN the row, not a
    global .distinct() (which shuffled the whole exploded corpus for a
    row-local property; removed round 4).

    Callers spread first (``_spread_docs``): a compact documents file scans
    as few input splits, but explode amplifies each row ~words-fold and the
    downstream hashing is the expensive part.
    """
    keep = [c for c in words_df.columns if c != "ws"]
    return words_df.select(*keep, F.explode(F.expr(DISTINCT_SHINGLES)).alias("s"))


def shingle_hashes(words_df: DataFrame) -> DataFrame:
    """(..., h): :func:`shingles` with each shingle replaced by its 60-bit
    md5-derived hash.

    ZERO shuffles (round 4): the dedup is array_distinct on the shingle
    STRINGS inside the row (the strings, not the hashes — hashing inside a
    higher-order-function lambda runs interpreted, measured 7x slower than
    the same hash post-explode in codegen); the md5 then runs codegen'd on
    the exploded distinct shingles.

    The int64 hash replaces the shingle STRING immediately after the explode,
    so every downstream join and any broadcast membership set move 8-byte
    keys instead of ~25-byte strings — the term that dominates shuffle volume
    at 100 TB. Consumers that compare shingle sets across engines use the
    identical hash AND the identical dedup-then-hash order in DuckDB
    (SHH_DUCK), so equality is exact; a 60-bit collision folding two distinct
    shingles is ~n^2/2^61 — the standard fingerprint trade every production
    dedup pipeline makes.
    """
    keep = [c for c in words_df.columns if c != "ws"]
    return shingles(words_df).select(*keep, F.expr(hash60_spark("s")).alias("h"))


# DuckDB twin of shingle_hashes over `documents`: dedup-then-hash, matching
# its in-row array_distinct order
SHH_DUCK = (
    "SELECT doc_id, "
    + hash60_duck("s")
    + " AS h FROM (SELECT DISTINCT doc_id, s FROM "
    + f"(SELECT doc_id, unnest({SH_DUCK}) AS s FROM documents) t0) t"
)


N_HASHES = 16  # minhash signature length
N_BANDS = 4  # LSH bands (4 rows per band)
# LSH band-bucket size cap: a degenerate corpus (thousands of identical docs)
# puts them all in one band bucket and the pair expansion goes quadratic.
# Buckets over the cap are dropped (the same guard DF_CAP applies to shingles
# in plans/llm.py); a bucket of BAND_CAP docs yields at most ~BAND_CAP^2/2
# pairs in one task.
BAND_CAP = 100


# Universal-hash minhash family: ONE md5 per shingle, 16 signature functions
# derived arithmetically — mh_i = (A_i*g1 + B_i*g2 + C_i) mod (2^31-1) over
# two 30-bit digest chunks. Bounds keep every product in int64 codegen range
# (A,B < 2^30, g < 2^30 -> terms < 2^60; sum < 2^62). Replaces the round-3
# family of 16 INDEPENDENT md5 calls per shingle ('i:'+s): interleaved A/B on
# the signature aggregate alone measured 0.39s -> 0.28s (1.4x) at sf0.1 and
# 9.18s -> 1.98s (4.6x) at the 200k-doc/100-word stress shape where hashing
# dominates — the term that grows at 100 TB. Planted-pair recall invariant
# re-verified in tests/test_lsh_twins.py; same construction style as
# Kirsch-Mitzenmacher double hashing.
_MH_P = 2147483647  # 2^31 - 1
_MH_G = 1073741824  # 2^30 chunk modulus

_mh_rnd = random.Random(7)
MH_ABC = [
    (
        _mh_rnd.randrange(1, _MH_G),
        _mh_rnd.randrange(1, _MH_G),
        _mh_rnd.randrange(0, _MH_P),
    )
    for _ in range(N_HASHES)
]


def minhash_wide_df(
    d: DataFrame,
    fast: bool = False,
    with_sets: bool = False,
    spread: bool = True,
    group_extra: tuple[str, ...] = (),
    share_exchange: bool = False,
) -> DataFrame:
    """(doc_id, mh0..mh15[, shset, n_sh]) over a (doc_id, text, ...)
    DataFrame: 16 signature functions min-folded over the shingles, via
    explode + ONE hash-aggregate (map-side partial min, single shuffle).
    `fast` switches the md5-derived universal-hash family (the
    DuckDB-matchable oracle twin — see MH_ABC above) for JVM-native xxhash64.
    `with_sets` also carries the distinct shingle-hash ARRAY through the same
    aggregation — consumers that need exact-Jaccard verification then
    reference ONE aggregate subtree for both candidates and verify sides,
    which measured ~40% faster end-to-end at sf0.1 than a separate
    shingle-set aggregation (shared shuffle subtree; no persist anywhere).

    Deliberately NOT array_min(transform(...)): Catalyst evaluates
    higher-order-function lambdas interpreted, outside whole-stage codegen —
    per-shingle hashing that way measured 7x slower at sf0.1 than the same
    hashes in a codegen'd aggregate.

    ``spread=False`` skips the scan-parallelism check for inputs that already
    sit downstream of a shuffle. ``group_extra`` names doc-constant columns
    to carry through the aggregate (grouped alongside doc_id — a no-op on
    the group shape since doc_id is unique; the cross-corpus dedup rides its
    side marker through ONE union-side aggregate this way instead of
    aggregating each corpus separately).

    ``share_exchange`` (r14, for MULTI-consumer callers only): inserts an
    explicit ``repartition("doc_id")`` between the per-shingle hash
    projection and the aggregate. A caller that consumes the wide table
    twice (cross_dedup_df: the band pass and the verify-set pass) otherwise
    pays the scan+shingle+hash subtree once PER consumer — Catalyst inlines
    the shared frame and nothing below the differing aggregates is reused.
    With the exchange pinned below both aggregates, runtime stage reuse
    executes scan+shingle+hash ONCE per action; the trade is shuffling the
    exploded shingle rows instead of map-combined partials (narrowest
    possible columns: (doc_id, h, g2) for the md5 family — g1 is derived
    from h post-shuffle — and (doc_id, s) for the fast family, whose 16
    seeded xxhash64 mins need the shingle itself). Measured at the 1M-doc
    stress on dedup_against_reference_fast, two interleaved rounds:
    8.76/9.90 -> 7.76/8.45 s (and beats the materialize() variant both
    rounds). Single-consumer callers must keep the default: the explicit
    exchange would forfeit map-side combine for nothing."""
    # explode WITHOUT shingles()'s array_distinct: collect_set dedups and min
    # is duplicate-insensitive, so the in-row distinct buys nothing
    sh = (
        (_spread_docs(d) if spread else d)
        .select("doc_id", *group_extra, F.expr(W_SPARK).alias("ws"))
        .select("doc_id", *group_extra, F.explode(F.expr(SH_ON_WS_SPARK)).alias("s"))
    )
    # each signature aggregate is ONE parsed SQL expression: the Column-API
    # forms cost ~10 py4j round-trips per signature (~0.3 s per call at
    # N_HASHES=16, x2 for the cross-corpus twins — r13 cProfile); the parsed
    # text analyzes to the identical aggregate (and for the md5 branch it is
    # the same text the DuckDB oracle runs, _MH_MINS).
    if fast:
        if share_exchange:
            sh = sh.repartition("doc_id")
        aggs = [F.expr(f"min(xxhash64({i}, s)) AS mh{i}") for i in range(N_HASHES)]
    else:
        # the digest is materialized as REAL COLUMNS before the aggregate so
        # codegen computes md5 once per shingle, not once per signature; `h`
        # is the same 60-bit prefix hash as shingle_hashes/hash60, carved
        # from the SAME digest — set-carrying consumers dedup/intersect on it
        # g1 is carved from h, not from its own conv: h holds digest bits
        # 0-59, so bits 0-31 (hex chars 1-8) are shiftright(h, 28) — one
        # string decode fewer per shingle. g2 (chars 9-16 = bits 32-63)
        # overruns h's 60 bits and keeps its own conv.
        sh = sh.select(
            "doc_id",
            *group_extra,
            F.expr("md5(CAST(s AS BINARY))").alias("mhex"),
        ).select(
            "doc_id",
            *group_extra,
            F.expr("CAST(conv(substr(mhex, 1, 15), 16, 10) AS BIGINT)").alias("h"),
            F.expr(f"CAST(conv(substr(mhex, 9, 8), 16, 10) AS BIGINT) % {_MH_G}").alias("g2"),
        )
        if share_exchange:
            # exchange the narrow (doc_id, extra, h, g2) rows; g1 derives
            # from h post-shuffle, so the shuffle carries ~24B/shingle
            sh = sh.repartition("doc_id")
        sh = sh.withColumn("g1", F.expr(f"shiftright(h, 28) % {_MH_G}"))
        aggs = [
            F.expr(f"min(({a} * g1 + {b} * g2 + {c}) % {_MH_P}) AS mh{i}")
            for i, (a, b, c) in enumerate(MH_ABC)
        ]
    if with_sets:
        # int64 hash sets, not string sets: smaller aggregation state and a
        # ~8-byte-per-element array_intersect on the verify side
        hcol = F.xxhash64(F.col("s")) if fast else F.col("h")
        return (
            sh.groupBy("doc_id", *group_extra)
            .agg(F.collect_set(hcol).alias("shset"), *aggs)
            .withColumn("n_sh", F.size("shset"))
        )
    return sh.groupBy("doc_id", *group_extra).agg(*aggs)


# build the oracle SQL for minhash queries programmatically (the identical
# universal-hash family: one md5, two 30-bit chunks, 16 affine combos)
_MH_MINS = ",\n           ".join(
    f"MIN(({a} * g1 + {b} * g2 + {c}) % {_MH_P}) AS mh{i}"
    for i, (a, b, c) in enumerate(MH_ABC)
)


def mh_cte_fragment(src: str = "documents", suffix: str = "") -> str:
    """The sh/m minhash CTE bodies (no leading WITH) over any source relation
    with (doc_id, text) — `documents` for the standalone queries, `dd` (the
    exact-dedup survivors) for the composed curation chain. ``suffix`` renames
    the CTEs (sh_n/m_n, ...) so two corpora can coexist in one oracle
    (cross-corpus dedup)."""
    return f"""sh{suffix} AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SH_DUCK}) AS s FROM {src}) t),
    m{suffix} AS (
      SELECT doc_id,
           {_MH_MINS}
      FROM (
        SELECT doc_id,
               ('0x' || substr(mhex, 1, 8))::BIGINT % {_MH_G} AS g1,
               ('0x' || substr(mhex, 9, 8))::BIGINT % {_MH_G} AS g2
        FROM (SELECT doc_id, md5(s) AS mhex FROM sh{suffix}) t1) t2
      GROUP BY doc_id)
"""


_R = N_HASHES // N_BANDS  # rows per band


def bands_sql(m: str = "m") -> str:
    """The band-key UNION ALL body over a minhash-wide CTE named ``m``."""
    return "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bkey FROM {m}".format(
            b=b, m=m, cols=", ".join(f"mh{b * _R + j}" for j in range(_R))
        )
        for b in range(N_BANDS)
    )


# DuckDB twin of _band_candidates over the `m` minhash CTE (bands, okb, cand
# CTE bodies; no leading WITH): band buckets over BAND_CAP docs are dropped
# before pair expansion in both engines, killing the degenerate-corpus
# quadratic
BAND_CAND_SQL = f"""    bands AS (
{bands_sql()}),

    okb AS (
      SELECT band, bkey FROM bands
      GROUP BY band, bkey HAVING COUNT(*) BETWEEN 2 AND {BAND_CAP}),

    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN okb ON okb.band = a.band AND okb.bkey = a.bkey
      JOIN bands b ON b.band = a.band AND b.bkey = a.bkey
        AND a.doc_id < b.doc_id)"""


# DuckDB twin of verified_jaccard's intersection count over the `cand` pairs
# and the `sh` shingle CTE (shh, n, common CTE bodies; no leading WITH)
JACCARD_COMMON_SQL = f"""    shh AS (SELECT DISTINCT doc_id, {hash60_duck('s')} AS h FROM sh),
    n AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN shh sa ON sa.doc_id = c.doc_a
      JOIN shh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
      GROUP BY c.doc_a, c.doc_b)"""


def _band_structs() -> list:
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[f"mh{b * _R + j}" for j in range(_R)]).alias("bkey"),
        )
        for b in range(N_BANDS)
    ]


def band_rows(wide: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): the band-key explode over a minhash-wide table —
    THE definition of a band key, shared by every candidate generator
    (single-corpus pairs here, cross-corpus in plans/crossdedup.py, the
    streaming index in streaming/neardup.py) so the band shape can never
    fork between them."""
    return wide.select(
        "doc_id", F.explode(F.array(*_band_structs())).alias("bb")
    ).select("doc_id", "bb.band", "bb.bkey")


def _band_candidates(wide: DataFrame) -> DataFrame:
    """LSH candidate pairs via IN-BUCKET expansion: group each (band, bkey)
    bucket, cap its size at BAND_CAP, and expand the sorted doc list to
    ordered pairs inside the bucket row.

    Versus the round-1 band self-join: the band table is computed ONCE (no
    persist needed, nothing leaks into the session cache), and a degenerate
    bucket can't go quadratic — it's dropped by the cap, the same guard
    DF_CAP applies to frequent shingles.
    """
    bands = band_rows(wide)
    # size gate precedes the collect (capped_buckets): a band signature shared
    # by millions of near-identical docs is dropped by a streaming count, not
    # after materializing the full id list in one aggregation buffer
    buckets = capped_buckets(bands, ["band", "bkey"], "doc_id", cap=BAND_CAP)
    return (
        buckets.select(F.explode(bucket_pairs("ids", "x AS doc_a, y AS doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def near_dup_pairs_df(
    d: DataFrame, threshold: float = 0.5, spread: bool = True
) -> DataFrame:
    """(doc_a, doc_b, jaccard) LSH+verified near-dup pairs over an arbitrary
    (doc_id, text, ...) DataFrame — the composable form of
    dedup_near_duplicates (which binds it to the documents table)."""
    # ONE aggregate carries signatures AND shingle sets; each candidate pair
    # MELTS into an (a-side, b-side) row pair so the set table joins ONCE —
    # with per-side joins the shared subtree executed three times (candidates
    # + both sides; lambda-bearing subtrees never pass ReuseExchange), the
    # melt holds it to two, trading a full corpus md5+aggregate pass for a
    # candidate-sized reassembly aggregate (candidates << corpus at any
    # scale). Still no persist anywhere.
    full = minhash_wide_df(d, with_sets=True, spread=spread)
    cand = _band_candidates(full)
    return verified_jaccard(cand, full, threshold=threshold).orderBy(
        "doc_a", "doc_b"
    )


def verified_jaccard(
    cand: DataFrame,
    sets: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    threshold: float = 0.5,
) -> DataFrame:
    """(a, b, jaccard >= threshold) over candidate pairs, via the melted
    one-join verify: each pair melts into an (a-side, b-side) row pair so
    the (doc_id, shset, n_sh) set table joins ONCE — with per-side joins
    the shared aggregate subtree executed three times (candidates + both
    sides; lambda-bearing subtrees never pass ReuseExchange). ``sets`` may
    be a union of several corpora as long as doc ids are globally unique."""
    sides = cand.select(
        a,
        b,
        F.explode(
            F.expr(f"array(struct('a' AS role, {a} AS d), struct('b' AS role, {b} AS d))")
        ).alias("r"),
    ).select(a, b, "r.role", "r.d")
    ver = (
        sides.join(sets.select(F.col("doc_id").alias("d"), "shset", "n_sh"), "d")
        .groupBy(a, b)
        .agg(
            F.first(F.when(F.col("role") == "a", F.col("shset")), ignorenulls=True).alias("set_a"),
            F.first(F.when(F.col("role") == "b", F.col("shset")), ignorenulls=True).alias("set_b"),
            F.first(F.when(F.col("role") == "a", F.col("n_sh")), ignorenulls=True).alias("na"),
            F.first(F.when(F.col("role") == "b", F.col("n_sh")), ignorenulls=True).alias("nb"),
        )
    )
    n_common = F.size(F.array_intersect("set_a", "set_b"))
    jac = n_common.cast("double") / (F.col("na") + F.col("nb") - n_common)
    return ver.filter(jac >= threshold).select(
        a, b, F.round(jac, 6).alias("jaccard")
    )
