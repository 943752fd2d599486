"""Streaming near-duplicate detection: score documents against an
ACCUMULATING minhash signature index as they arrive.

The batch LSH family (operators/text.py) answers "which pairs in this corpus are
near-dups"; a live ingest pipeline asks a different question per document:
"is this NEW doc a near-dup of anything seen BEFORE it". This module runs
that check per micro-batch via foreachBatch:

  1. the arriving docs' 16-function minhash signatures (the md5-derived
     universal-hash family — identical math to the oracle-checked batch
     queries) are APPENDED to a parquet index in TWO narrow tables —
     `bands` (doc_id, band, bkey) for candidate generation and `sig`
     (doc_id, mh[16]) for verification. Narrow beats denormalized: an
     earlier layout carried the 16-component signature on every band row
     and the per-batch index re-scan paid ~4x the bytes for data only the
     (few) candidates ever need;
  2. candidates = arriving band keys joined against the index's bands —
     the arriving side is a micro-batch (small by construction), so it
     BROADCASTS and the index is never shuffled; `doc_a < doc_b` keeps only
     matches against earlier arrivals (and makes a replayed batch, whose own
     rows are already in the index, produce exactly the in-batch pairs —
     no separate in-batch code path);
  3. verification is the Broder resemblance estimator — est_jaccard =
     (# equal signature components) / 16 — computed by joining the
     candidate pairs (broadcast: candidates << corpus) against the sig
     table, so NO shingle sets are stored or shipped and the wide arrays
     ride only candidate-sized joins;
  4. per-doc decisions (is_dup, first_match, best_est, n_earlier_matches)
     land under the sink, one overwritten subdirectory per batch id (the
     same exactly-once-under-replay pattern as stream_decontamination:
     foreachBatch is at-least-once, overwriting the batch's own directory
     makes replays no-ops — for BOTH the index appends and the decisions).

Equivalence contract (tests/test_streaming.py): with files arriving in
doc_id order, the streamed decisions are row-identical to
:func:`near_dup_decisions_batch` over the full corpus — including
checkpoint-kill-resume replays.

The batch LSH family's bucket cap appears here as the OPT-IN ``band_cap``
freeze policy (round 5): a band key whose index df exceeds the cap stops
generating candidates — the capped_buckets idea applied to an accumulating
index, with the freeze set computed by a skew-safe COUNT. It is opt-in
because freezing is time-dependent (a key crosses the cap at some batch) and
therefore NOT reproducible by the arrival-order batch twin; the default
(None) keeps the exact stream==batch contract the equivalence tests assert,
and the join shape is index-shuffle-free either way.

Round 6 adds periodic index COMPACTION (streaming/index.py): without it the
per-batch index read listed one parquet directory per prior batch and the
freeze set was re-counted from the raw band table every batch — O(total
index) re-aggregation, quadratic over a long ingest. Now batch directories
fold into a keeper every ``compact_every`` batches, and the band-key df
counts fold incrementally in a narrow ``cnt`` side index, so per-batch work
is one keeper scan plus a bounded number of recent appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import N_HASHES, band_rows, minhash_wide_df

EST_THRESHOLD = 0.5  # matches >= 8 of 16 signature components


def signatures(d: DataFrame) -> DataFrame:
    """(doc_id, mh: array<long>) — one row per doc, the verification table."""
    wide = minhash_wide_df(d, spread=False)
    mh = F.array(*[F.col(f"mh{i}") for i in range(N_HASHES)])
    return wide.select("doc_id", mh.alias("mh"))


def bands_of(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) — 4 narrow rows per doc, the candidate table,
    via the SHARED band-key definition (operators.text.band_rows)."""
    mh_cols = [F.col("mh").getItem(i).alias(f"mh{i}") for i in range(N_HASHES)]
    return band_rows(sigs.select("doc_id", *mh_cols))


def _decisions(arriving_ids: DataFrame, verified: DataFrame) -> DataFrame:
    """Fold verified matches (doc_a = earlier, doc_b = arriving, est) into
    one decision row per arriving doc."""
    agg = verified.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.min("doc_a").alias("first_match"),
        F.max("est").alias("best_est"),
        F.count(F.lit(1)).alias("n_earlier_matches"),
    )
    return (
        arriving_ids.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("first_match").isNotNull().alias("is_dup"),
            "first_match",
            "best_est",
            F.coalesce("n_earlier_matches", F.lit(0)).alias("n_earlier_matches"),
        )
    )


_EST = (
    f"CAST(size(filter(zip_with(a_mh, b_mh, (x, y) -> x = y), v -> v)) AS DOUBLE)"
    f" / {N_HASHES}"
)


def _candidate_pairs(index_bands: DataFrame, arriving_bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b): earlier index docs sharing a band key with an arriving
    doc. The arriving side carries an EXPLICIT broadcast hint: AQE is
    disabled inside streaming foreachBatch, so without the hint the static
    planner sort-merges — shuffling the ever-growing index on every
    micro-batch. A micro-batch's band table is bounded by the trigger size
    (a 200k-doc batch broadcasts ~25 MB; typical triggers far less), while
    the index side is unbounded — broadcasting the bounded side is the only
    shape that never moves the index."""
    a = index_bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = F.broadcast(
        arriving_bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    )
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()  # a pair can collide in several bands
    )


def _verify(pairs: DataFrame, index_sigs: DataFrame, arriving_sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est >= EST_THRESHOLD): Broder-estimate the candidate
    pairs from the narrow sig tables. The candidate pairs and the arriving
    signatures broadcast explicitly (candidates << corpus, arriving bounded
    by the trigger; AQE is off inside foreachBatch) — the unbounded index
    sig table is scanned, never shuffled."""
    withA = index_sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("mh").alias("a_mh")
    ).join(F.broadcast(pairs), "doc_a")
    full = withA.join(
        F.broadcast(
            arriving_sigs.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("b_mh"))
        ),
        "doc_b",
    )
    return (
        full.select("doc_a", "doc_b", F.expr(_EST).alias("est"))
        .filter(F.col("est") >= EST_THRESHOLD)
    )


def _frozen_keys(index_bands: DataFrame, band_cap: int) -> DataFrame:
    """(band, bkey) keys whose index document frequency exceeds the cap —
    the FREEZE policy: a band signature shared by more docs than the cap is
    degenerate boilerplate, and joining new arrivals against its full
    occurrence list is the unbounded fan-out this guard exists to stop.
    COUNT aggregates with map-side partial combine, so the hot key itself
    collapses per mapper — computing the freeze set is skew-safe by
    construction (the capped_buckets argument, applied to the index)."""
    return (
        index_bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > band_cap)
        .select("band", "bkey")
    )


def _candidates(
    index_bands_sigs,
    arriving_bands_sigs,
    band_cap: int | None = None,
    frozen: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, est) verified pairs from (bands, sigs) table pairs.
    The freeze policy: arriving rows under a frozen key generate no
    candidates (left_anti against the frozen-key set — bounded by
    index_rows / cap keys, so it broadcasts for any realistic cap). Callers
    pass the frozen keys one of two ways: ``frozen`` directly (the streams,
    which derive it incrementally from the compacted count index — see
    stream_near_dup), or ``band_cap`` to count the full band table here
    (one-shot batch callers)."""
    ib, isig = index_bands_sigs
    ab, asig = arriving_bands_sigs
    if frozen is None and band_cap is not None:
        frozen = _frozen_keys(ib, band_cap)
    if frozen is not None:
        ab = ab.join(F.broadcast(frozen), ["band", "bkey"], "left_anti")
    return _verify(_candidate_pairs(ib, ab), isig, asig)


def near_dup_decisions_batch(d: DataFrame) -> DataFrame:
    """The batch twin: for every doc, is it a near-dup (est_jaccard >=
    threshold) of any EARLIER doc (lower doc_id = earlier arrival). Same
    signatures, same band keys, same estimator as the stream."""
    sigs = signatures(d)
    bands = bands_of(sigs)
    verified = _candidates((bands, sigs), (bands, sigs))
    return _decisions(d.select("doc_id"), verified).orderBy("doc_id")


def _frozen_from_counts(
    spark, cnt_path: str, band_cap: int, prune: DataFrame | None = None
) -> DataFrame:
    """(band, bkey) keys whose accumulated df exceeds the cap, from the
    COMPACTED count index: the keeper holds one summed row per key, per-batch
    appends hold that batch's counts, so the freeze set is an aggregation
    over (1 row/key + <= compact_every tiny deltas) — never a re-count of
    the raw band table (which grows with the stream). ``prune`` (the
    arriving band table) restricts the keeper scan to the arriving keys'
    buckets — sound because the freeze set is only ever anti-joined against
    those same arriving keys, and a key's rows all live in its bucket."""
    from .index import read_index

    pr = None if prune is None else (prune, ["band", "bkey"])
    return (
        read_index(spark, cnt_path, prune=pr)
        .groupBy("band", "bkey")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > band_cap)
        .select("band", "bkey")
    )


def _candidates_pruned(
    spark,
    bands_path: str,
    sig_path: str,
    ab: DataFrame,
    asig: DataFrame,
    frozen: DataFrame | None,
    materialize,
) -> DataFrame:
    """(doc_a, doc_b, est) verified pairs against the ON-DISK index, with
    both index scans PRUNED to the buckets the bounded side touches
    (streaming/index.py module docstring):

      - the band index scan reads only the buckets the ARRIVING band keys
        hash into (a keeper row in any other bucket cannot share a key);
      - the signature index scan reads only the buckets the candidate
        pairs' doc_a values hash into — candidates are few by construction,
        so this is the strongest prune of the two (the sig table carries
        the wide arrays).

    ``materialize`` pins the candidate-pair table (the caller's persist
    helper): computing the sig prune's touched buckets is an action on the
    pairs, and _verify consumes them again — without the pin the band join
    would run twice."""
    from .index import read_index

    ib = read_index(spark, bands_path, prune=(ab, ["band", "bkey"]))
    if frozen is not None:
        ab = ab.join(F.broadcast(frozen), ["band", "bkey"], "left_anti")
    pairs = materialize(_candidate_pairs(ib, ab))
    isig = read_index(
        spark,
        sig_path,
        prune=(pairs.select(F.col("doc_a").alias("doc_id")), ["doc_id"]),
    )
    return _verify(pairs, isig, asig)


def _sum_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("band", "bkey").agg(F.sum("cnt").alias("cnt"))


def stream_near_dup(
    stream: DataFrame,
    index_path: str,
    sink_path: str,
    checkpoint: str,
    available_now: bool = False,
    band_cap: int | None = None,
    compact_every: int | None = 16,
    rows_per_bucket: int | None = None,
):
    """Start the streaming near-dup query; returns the StreamingQuery.

    ``stream`` is a streaming (doc_id, text, ...) DataFrame (see
    decontam.stream_documents). Signatures accumulate under
    ``index_path``/{bands,sig}, decisions under ``sink_path`` — all
    batch-id-keyed for replay idempotence; read decisions back with
    :func:`read_decisions`.

    ``compact_every`` (round 6): every N batches the index's batch
    directories fold into one keeper directory (streaming/index.py), so the
    per-batch read opens O(compact_every) directories instead of one per
    prior batch, and — with ``band_cap`` — the band-key document frequencies
    fold incrementally in a ``cnt`` side index instead of being re-counted
    from the raw band table each batch. Folding rewrites the same rows, so
    decisions are bit-identical with compaction on or off (the equivalence
    tests run both). None disables it (not recommended beyond short tests).

    Round 7: keepers are written HASH-BUCKETED on their key — bands and the
    cnt side index on (band, bkey), signatures on doc_id — and the per-batch
    index scans are PRUNED to the buckets the arriving batch actually
    touches (partition pruning; see streaming/index.py). Per-batch keeper
    bytes read are then bounded by O(arriving keys x rows_per_bucket) once
    the index outgrows the trigger, instead of O(full index). Pruning is a
    scan optimization only — decisions are bit-identical with it on or off.
    ``rows_per_bucket`` overrides the bucket sizing (tests/probes; None =
    the production default in streaming/index.py).

    ``band_cap`` (production setting) FREEZES band keys whose index df
    exceeds the cap: new arrivals under a frozen key generate no candidates,
    bounding the join fan-out against boilerplate signatures. Freezing is
    time-dependent (a key crosses the cap at some batch), so decisions with
    a cap are NOT comparable to the arrival-order batch twin — leave it None
    where the exact stream==batch contract matters (the default, and what
    the equivalence tests run).
    """
    from .index import ROWS_PER_BUCKET, append, batch_dir, compact

    rpb = ROWS_PER_BUCKET if rows_per_bucket is None else rows_per_bucket

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sig_p, bands_p, cnt_p = (f"{index_path}/{t}" for t in ("sig", "bands", "cnt"))
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(spark, sig_p, batch_id, bucket_cols=["doc_id"], rows_per_bucket=rpb)
            compact(
                spark, bands_p, batch_id, bucket_cols=["band", "bkey"], rows_per_bucket=rpb
            )
            if band_cap is not None:
                compact(
                    spark,
                    cnt_p,
                    batch_id,
                    fold=_sum_counts,
                    bucket_cols=["band", "bkey"],
                    rows_per_bucket=rpb,
                )
            # decisions sink folds too (identity rewrite — bounds the final
            # consumer's directory listing; replay-safe by the same
            # below-the-triggering-id rule)
            compact(spark, sink_path, batch_id)
        # one-file micro-batches scan as one partition: spread before the
        # md5-minhash chain or it runs single-core
        n = spark.sparkContext.defaultParallelism
        d = batch_df.select("doc_id", "text").repartition(n, "doc_id")
        # index appends FIRST (overwrite-own-batch => replay no-op); the
        # subsequent candidate join then sees this batch's rows too, so
        # in-batch pairs come out of the same `doc_a < doc_b` path. The
        # arriving tables are read BACK from the appended files so the
        # md5-minhash chain runs once, not once per downstream use.
        append(signatures(d), sig_p, batch_id)
        asig = spark.read.parquet(batch_dir(sig_p, batch_id))
        append(bands_of(asig), bands_p, batch_id)
        ab = spark.read.parquet(batch_dir(bands_p, batch_id))
        frozen = None
        if band_cap is not None:
            append(
                ab.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("cnt")),
                cnt_p,
                batch_id,
            )
            frozen = _frozen_from_counts(spark, cnt_p, band_cap, prune=ab)
        pinned: list[DataFrame] = []

        def mat(df: DataFrame) -> DataFrame:
            df = df.persist()
            df.count()
            pinned.append(df)
            return df

        try:
            verified = _candidates_pruned(
                spark, bands_p, sig_p, ab, asig, frozen, mat
            )
            _decisions(batch_df.select("doc_id"), verified).write.mode(
                "overwrite"
            ).parquet(f"{sink_path}/batch-{batch_id:09d}")
        finally:
            for df in pinned:
                df.unpersist()

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_decisions(spark: SparkSession, sink_path: str) -> DataFrame:
    """Read everything stream_near_dup wrote under ``sink_path``: the newest
    complete keeper plus the batch dirs it has not folded (``read_index``)."""
    from .index import read_index

    return read_index(spark, sink_path)
