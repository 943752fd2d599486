"""Bucketed-table sink: pre-shuffle ONCE at write time, join/aggregate with
ZERO exchanges forever after.

The big-big join (fact x fact, both too large to broadcast) is the one join
shape where `broadcast()` cannot save the shuffle — at 100 TB a repeated
lineitem x orders join re-shuffles both sides on every run. Spark's storage
bucketing amortizes that: `bucketBy(n, key)` hash-partitions rows into a
fixed number of file buckets at WRITE time (the same hashpartitioning a join
exchange would compute), and every later equi-join or aggregation on the
bucket key reads the buckets co-located — the planner drops the Exchange on
both sides (`test_bucketed.py` asserts the joined plan has ZERO exchanges).
`sortBy` additionally pre-sorts within buckets so the sort-merge join's Sort
is file-order, mirroring the token-sorted SSTable contract of the reference
sink (sorted-within-bucket is this engine's house shape).

THE SKEW BOUND, stated plainly: AQE's OptimizeSkewedJoin splits oversized
SHUFFLE partitions, but a bucketed scan has no shuffle to split — one hot
join key concentrates its rows in one bucket file, and that bucket becomes
an UNSPLITTABLE straggler task. This is exactly the failure mode the sink
exists to avoid, so callers with a known-skewed key must use the salted
variant below: `write_bucketed_salted` buckets the skewed side on
(key, salt) with salt derived from a per-row column, and
`write_bucketed_replicated` writes the other side once per salt value; the
join then runs on (key, salt) — still zero exchanges, hot key split across
`salt_buckets` tasks, at the cost of a `salt_buckets`x larger replicated
side (choose the SMALLER side to replicate). `join_salted` packages the
equivalent-join. For unknown skew, measure first: a quick
`df.groupBy(key).count().orderBy(desc("count")).limit(10)` at write time is
cheaper than discovering the straggler in production.

Operational notes for the 100 TB deployment, encoded here so callers don't
rediscover them:
  - Both sides must bucket on the JOIN key with the SAME bucket count (or
    integer multiples, with `spark.sql.bucketing.coalesceBucketsInJoin`).
  - Bucket count sizes the per-bucket file: target ~100-500 MB per bucket
    per final write task; too few buckets caps join parallelism, too many
    makes small files.
  - One writer task per bucket value avoids the many-small-files explosion:
    repartition on the bucket expression before writing (done here), or the
    writer emits one file per (task, bucket) pair.
  - Bucketed tables require the table catalog (`saveAsTable`); a plain
    `.parquet(path)` write silently drops bucketing. `path` makes the table
    external so the data outlives catalog drops.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the salt column both salted writers emit and join_salted joins on
SALT_COL = "_salt"

# a key is "hot" when its rows alone exceed this multiple of the average
# bucket size — its bucket is then at least that many times oversized, and
# the joined-side task reading it is the unsplittable straggler
SKEW_RATIO = 4.0


def detect_hot_keys(
    df: DataFrame,
    bucket_col: str,
    num_buckets: int,
    skew_ratio: float = SKEW_RATIO,
    top: int = 10,
    return_null_count: bool = False,
):
    """Write-time key-frequency sketch: [(key, n_rows), ...] for the (at
    most ``top``) keys whose row count exceeds ``skew_ratio`` x the average
    bucket size (total_rows / num_buckets) — each such key GUARANTEES an
    oversized, AQE-unsplittable bucket (module docstring).

    Cost, stated plainly: ONE extra scan + a count-per-key aggregate. The
    aggregate map-side-combines (the hot key itself collapses per mapper —
    counting skew is skew-safe), the shuffle carries distinct keys, the
    per-key counts persist so the total and the cutoff filter both read the
    aggregate (not the input again), and the driver sees at most ``top``
    rows via a TakeOrdered limit. At 100 TB that is ~the cost of the
    write's own repartition — cheap insurance against discovering the
    straggler in production. (write_bucketed's default check avoids even
    that: it scans the WRITTEN table's key column, not the upstream.)

    NULL keys are excluded from the hot-key LIST: NULL never equi-joins,
    so a mostly-NULL bucket column must not trip a misleading (None, n)
    warning pointing at the salted writer. But all NULLs still hash into
    ONE bucket file — an oversized unsplittable SCAN-side straggler even
    though it matches nothing — so ``return_null_count=True`` additionally
    returns the NULL-key row count (review finding: the caller's remedy
    differs — filter the NULLs before the write, don't salt)."""
    counts = (
        df.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("_n")).persist()
    )
    try:
        total = counts.agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("_t")).first()["_t"]
        if total == 0:
            return ([], 0) if return_null_count else []
        cutoff = skew_ratio * total / num_buckets
        hot = [
            (r[bucket_col], r["_n"])
            for r in counts.filter(
                F.col(bucket_col).isNotNull() & (F.col("_n") > cutoff)
            )
            .orderBy(F.col("_n").desc())
            .limit(top)
            .collect()
        ]
        if not return_null_count:
            return hot
        null_rows = counts.filter(F.col(bucket_col).isNull()).collect()
        null_n = null_rows[0]["_n"] if null_rows else 0
        return hot, (null_n if null_n > cutoff else 0)
    finally:
        counts.unpersist()


def _write(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort: bool,
) -> None:
    w = (
        df.repartition(num_buckets, *[df[c] for c in bucket_cols])
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort:
        w = w.sortBy(*bucket_cols)
    w.format("parquet").saveAsTable(table)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    num_buckets: int,
    sort: bool = True,
    check_skew: bool = True,
    skew_ratio: float = SKEW_RATIO,
    on_skew: str = "warn",
) -> None:
    """Write ``df`` as an external parquet table bucketed (and by default
    sorted) on ``bucket_col``.

    The pre-write ``repartition(num_buckets, bucket_col)`` aligns write tasks
    with buckets: without it every write task emits a file for every bucket
    it sees (tasks x buckets small files). If the join key is SKEWED, use
    :func:`write_bucketed_salted` instead — AQE cannot split a hot bucket
    (module docstring).

    ``check_skew`` (round 7) runs :func:`detect_hot_keys` — the UNDECLARED
    hot key is the failure mode the salted variant cannot guard against
    because nobody knew to reach for it. ``on_skew``:
    "warn" (default) checks AFTER the write by scanning the just-written
    table's key column — a single-column parquet read, so an expensive
    upstream is NEVER recomputed (round-7 advice: the pre-write check was a
    silent 2x cost for expensive upstreams) — and emits a warning naming
    the hot keys and the salted writer; "raise" checks BEFORE the write
    (one full upstream recompute, the documented price of refusing the
    write); "ignore"/check_skew=False skips the check entirely (callers who
    already profiled the key). An unrecognized value fails loudly — a
    typo'd "error"/"abort" silently downgrading to a warning would defeat
    the refuse-the-write intent."""
    if on_skew not in ("warn", "raise", "ignore"):
        raise ValueError(f"on_skew must be 'warn', 'raise', or 'ignore', got {on_skew!r}")
    checking = check_skew and on_skew != "ignore"
    if checking and on_skew == "raise":
        hot, null_n = detect_hot_keys(
            df, bucket_col, num_buckets, skew_ratio, return_null_count=True
        )
        if hot:
            raise ValueError(_skew_msg(table, bucket_col, hot, skew_ratio, "pre"))
        if null_n:
            raise ValueError(_null_msg(table, bucket_col, null_n, skew_ratio, "pre"))
    _write(df, table, path, [bucket_col], num_buckets, sort)
    if checking and on_skew == "warn":
        written = df.sparkSession.table(table).select(bucket_col)
        hot, null_n = detect_hot_keys(
            written, bucket_col, num_buckets, skew_ratio, return_null_count=True
        )
        if hot:
            warnings.warn(
                _skew_msg(table, bucket_col, hot, skew_ratio, "post"), stacklevel=2
            )
        if null_n:
            warnings.warn(
                _null_msg(table, bucket_col, null_n, skew_ratio, "post"), stacklevel=2
            )


def _skew_msg(
    table: str, bucket_col: str, hot: list[tuple], skew_ratio: float, phase: str = "pre"
) -> str:
    # on_skew='warn' checks POST-write (r8 advice: say so — the operator
    # must know the table on disk already contains the oversized bucket);
    # on_skew='raise' checks pre-write and refuses it
    where = (
        "detected POST-WRITE (the table on disk already contains the "
        "oversized bucket); rewrite with"
        if phase == "post"
        else "would make unsplittable oversized buckets; use"
    )
    return (
        f"write_bucketed({table!r}): hot join key(s) on {bucket_col!r} "
        f"{where} write_bucketed_salted/write_bucketed_replicated + "
        f"join_salted — {hot!r} each > {skew_ratio}x the average bucket, "
        f"unsplittable at scan time (AQE cannot split a bucketed scan)"
    )


def _null_msg(
    table: str, bucket_col: str, null_n: int, skew_ratio: float, phase: str = "pre"
) -> str:
    where = (
        "detected POST-WRITE (the table on disk already contains it); "
        "filter the NULL keys and rewrite"
        if phase == "post"
        else "an unsplittable oversized bucket file on the scan side; "
        "filter the NULL keys before the write"
    )
    return (
        f"write_bucketed({table!r}): {null_n} NULL {bucket_col!r} rows all "
        f"hash into ONE bucket (> {skew_ratio}x the average) — {where} "
        f"even though NULL never equi-joins "
        f"(salting does not apply — they match nothing)"
    )


def write_bucketed_salted(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    num_buckets: int,
    salt_buckets: int,
    salt_from: str,
    sort: bool = True,
) -> None:
    """The skew-safe variant for a side with HOT join keys: buckets on
    (``bucket_col``, salt) where salt = pmod(xxhash64(``salt_from``),
    ``salt_buckets``) — deterministic per row (pick a stable unique-ish
    column such as the row id), so a rewrite lands rows in the same buckets.
    A hot key's rows spread across up to ``salt_buckets`` (key, salt)
    classes, each an independently-scheduled join task. Join against a
    partner written by :func:`write_bucketed_replicated` with the SAME
    num_buckets and salt_buckets, via :func:`join_salted`."""
    salted = df.withColumn(
        SALT_COL,
        F.expr(f"CAST(pmod(xxhash64({salt_from}), {salt_buckets}) AS INT)"),
    )
    _write(salted, table, path, [bucket_col, SALT_COL], num_buckets, sort)


def write_bucketed_replicated(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    num_buckets: int,
    salt_buckets: int,
    sort: bool = True,
) -> None:
    """The partner of :func:`write_bucketed_salted`: every row is written
    once per salt value (a ``salt_buckets``x blow-up — replicate the SMALLER
    join side), so each (key, salt) class of the salted table finds its
    match. The explode is map-only; the cost is storage, not shuffle."""
    repl = df.withColumn(
        SALT_COL, F.explode(F.expr(f"sequence(CAST(0 AS INT), {salt_buckets - 1})"))
    )
    _write(repl, table, path, [bucket_col, SALT_COL], num_buckets, sort)


def join_salted(
    spark: SparkSession, salted_table: str, replicated_table: str, on: str
) -> DataFrame:
    """Equi-join a salted table with its replicated partner on
    (``on``, salt) — row-equivalent to joining the unsalted inputs on
    ``on`` alone, zero exchanges, hot key split ``salt_buckets`` ways."""
    return (
        spark.table(salted_table)
        .join(spark.table(replicated_table), [on, SALT_COL])
        .drop(SALT_COL)
    )
