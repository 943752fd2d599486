"""Streaming corpus curation: the full on-ingest chain per micro-batch.

plans/compose.py curates a CORPUS (offline: connected-components cluster
dedup, global packing). A live crawl curates a STREAM: each arriving doc is
judged once, against what arrived before it, and the verdict is final. This
module chains the proven per-stage streaming mechanisms into that pipeline:

  1. quality gate  — the same MIN_WORDS / MIN_UNIQ_RATIO in-row predicate as
     the batch chain; rejects never touch any index
  2. exact dedup   — md5(text) against an ACCUMULATING hash index (the
     neardup index pattern: batch-id-keyed parquet appends, arriving side
     broadcast, `index.doc_id < arriving.doc_id` so a replayed batch's own
     rows resolve to the in-batch keep-first, not self-matches)
  3. near-dup      — minhash signatures of the exact-dedup survivors against
     the accumulating signature index (streaming/neardup.py machinery:
     band-key join, Broder-estimator verify — no shingle sets stored)
  4. decontam gate — the broadcast benchmark-shingle scoring of
     streaming/decontam.py; drop contam_frac >= MAX_CONTAM_FRAC

ONLINE vs OFFLINE semantics, stated precisely: exact dedup is keep-first in
arrival order — identical to the batch chain's min-doc_id keeper when files
arrive in doc_id order. Near-dup is GREEDY: a doc is dropped iff it
estimator-matches any EARLIER exact-dedup survivor (kept or itself dropped).
Offline connected components can differ on chains (a~b, b~c, a!~c: offline
keeps only a; greedy keeps a AND c, since c never meets b's verdict). That
is the inherent online/offline dedup gap, not an implementation artifact —
so this module's batch twin (:func:`curate_decisions_batch`) defines the
greedy semantics exactly, and tests assert stream == THAT twin, while the
offline chain keeps its own oracle in plans/compose.py.

Only surviving docs enter the near-dup signature index (stage-2 losers never
pollute candidate generation); the exact-dedup index records every
quality-passing doc (keep-first needs to see prior copies). Every index and
sink write is batch-id-keyed and overwritten on replay. Round 6: the indexes
COMPACT every ``compact_every`` batches (streaming/index.py) — the exact
index folds to its min-keeper, so per-batch keep-first work is one keeper
scan plus an aggregate over the bounded recent appends, never a
re-aggregation of the full history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_SPARK
from ..plans.compose import MAX_CONTAM_FRAC, MIN_UNIQ_RATIO, MIN_WORDS
from ..plans.pipeline import PACK_BUDGET, PACK_SHARD_DOCS
from .decontam import score_batch
from .neardup import _candidates, _candidates_pruned, bands_of, signatures


def _quality(
    d: DataFrame, classifier: tuple[list[float], float] | None = None
) -> DataFrame:
    ws = d.select("doc_id", "text", F.expr(W_SPARK).alias("ws"))
    base = ws.filter(
        (F.size("ws") >= MIN_WORDS)
        & (
            F.expr("size(array_distinct(ws))").cast("double") / F.size("ws")
            >= MIN_UNIQ_RATIO
        )
    ).select("doc_id", "text")
    if classifier is None:
        return base
    # optional LEARNED gate (round 8): the CCNet-style scorer
    # (plans/quality_clf.py) with caller-supplied (weights, bias) — the
    # production xxhash64 features, margin > 0 keeps. Featurized over the
    # RULE SURVIVORS only, not the whole batch (review finding: the gate
    # is ANDed with the rule gate, so featurizing already-rejected docs is
    # pure waste — byte-identical decisions, strictly less work per
    # trigger). One bounded map-side-combined aggregate per trigger;
    # shared verbatim with the batch twin, so stream == batch holds with
    # the gate on exactly as it does with it off.
    from ..operators.classifier import margin_expr
    from ..plans.quality_clf import _features_spark

    w, b = classifier
    keep = (
        _features_spark(base, "xxhash64")
        .filter(margin_expr("features", list(w), float(b)) > 0)
        .select("doc_id")
    )
    return base.join(keep, "doc_id", "left_semi")


def _hashes(d: DataFrame) -> DataFrame:
    return d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))


def _exact_losers(
    keeper: DataFrame | None, recent: DataFrame, arriving_h: DataFrame
) -> DataFrame:
    """Arriving doc_ids that share an md5 with any EARLIER doc.
    ``arriving_h`` is the arriving batch's PRE-HASHED (doc_id, h) table —
    the stream reads it back from the index file it just appended, so the
    md5 chain runs once per batch, not once per consumer.

    ``keeper`` is the COMPACTED index — already folded to one min-doc_id row
    per hash (streaming/index.py, min fold) — and ``recent`` the union of
    post-compaction raw appends, bounded by compact_every x trigger size.
    Keep-first stays the MIN-KEEPER aggregate, but ONLY over the bounded
    recent rows: a raw join against k copies of a hot text would fan out k^2
    (the all-identical-crawl shape), while min() map-side-combines them to
    one row per mapper. The unbounded keeper is NEVER re-aggregated or
    shuffled (the round-5 form re-ran groupBy(h).min over the FULL
    accumulated index every micro-batch — quadratic over the stream's
    life): one row per hash already, it streams scan-only into the join.
    The arriving hashes broadcast explicitly (bounded by the trigger; AQE is
    off inside foreachBatch, so without the hint the static planner
    sort-merges, shuffling the unbounded side). An arriving doc can match
    both a keeper row and a recent row — hence the distinct."""
    recent_min = recent.groupBy("h").agg(F.min("doc_id").alias("_idx_doc"))
    cand = (
        recent_min
        if keeper is None
        else keeper.select("h", F.col("doc_id").alias("_idx_doc")).unionByName(
            recent_min
        )
    )
    return (
        cand.join(F.broadcast(arriving_h), "h")
        .filter(F.col("_idx_doc") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
    )


def _min_keeper(df: DataFrame) -> DataFrame:
    """Compaction fold for the exact index: only the minimum doc_id per hash
    can ever decide keep-first, so the keeper holds exactly that."""
    return df.groupBy("h").agg(F.min("doc_id").alias("doc_id"))


def _verdicts(
    all_ids: DataFrame,
    qual: DataFrame,
    exact_losers: DataFrame,
    nd_losers: DataFrame,
    contaminated: DataFrame,
) -> DataFrame:
    """Fold the four stage verdict tables into one decision row per doc —
    (doc_id, quality_pass, exact_dup, near_dup, contaminated, kept), stage
    columns null once an earlier stage rejected the doc. ONE implementation
    shared by the stream and its batch twin so their row semantics cannot
    drift."""
    out = (
        all_ids.join(qual, "doc_id", "left")
        .join(exact_losers, "doc_id", "left")
        .join(nd_losers, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
    )
    qp = F.coalesce("quality_pass", F.lit(False))
    ed = F.when(qp, F.coalesce("exact_dup", F.lit(False)))
    ndp = F.when(
        qp & ~F.coalesce("exact_dup", F.lit(False)), F.coalesce("near_dup", F.lit(False))
    )
    cont = F.when(
        qp & ~F.coalesce("exact_dup", F.lit(False)) & ~F.coalesce("near_dup", F.lit(False)),
        F.coalesce("contaminated", F.lit(False)),
    )
    return out.select(
        "doc_id",
        qp.alias("quality_pass"),
        ed.alias("exact_dup"),
        ndp.alias("near_dup"),
        cont.alias("contaminated"),
        (
            qp
            & ~F.coalesce(ed, F.lit(True))
            & ~F.coalesce(ndp, F.lit(True))
            & ~F.coalesce(cont, F.lit(True))
        ).alias("kept"),
    )


_N_TOKENS = f"CAST(size({W_SPARK}) AS BIGINT)"


def _sum_token_totals(df: DataFrame) -> DataFrame:
    """Compaction fold for the per-batch token-total index: collapse to one
    row carrying the folded sum under the HIGHEST folded batch id — every
    future base-offset filter (`batch_id < current`) still includes it."""
    return df.agg(
        F.max("batch_id").alias("batch_id"), F.sum("n_tokens").alias("n_tokens")
    )


def pack_kept_batch(d: DataFrame, bench_shingles: DataFrame) -> DataFrame:
    """Batch twin of the streaming packing stage: the greedy-kept docs packed
    on the token axis in doc_id order — (doc_id, n_tokens, start_offset,
    seq_id). With files arriving in doc_id order the stream's per-batch
    packing (base offset from the token index + in-batch prefix sum) is
    row-identical to this."""
    from ..operators.prefixsum import exclusive_cumsum

    kept = curate_decisions_batch(d, bench_shingles).filter("kept").select("doc_id")
    toks = d.join(kept, "doc_id").select("doc_id", F.expr(_N_TOKENS).alias("n_tokens"))
    packed = exclusive_cumsum(
        toks, "doc_id", "n_tokens", out="start_offset", shard_width=PACK_SHARD_DOCS
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {PACK_BUDGET}").alias("seq_id"),
    ).orderBy("doc_id")


def curate_decisions_batch(
    d: DataFrame,
    bench_shingles: DataFrame,
    classifier: tuple[list[float], float] | None = None,
) -> DataFrame:
    """The greedy arrival-order twin: per doc —
    (doc_id, quality_pass, exact_dup, near_dup, contaminated, kept).
    Stage columns are null once an earlier stage rejected the doc (the
    stream never evaluates later stages for rejects). ``classifier``
    optionally adds the learned margin > 0 gate to the quality stage
    (see :func:`_quality`) — pass the same model to :func:`stream_curate`
    and the twin equality holds with the gate on."""
    q = _quality(d, classifier)
    h = _hashes(q)
    # min-keeper aggregate, mirroring _exact_losers: skew-safe keep-first
    keepers = h.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    exact_losers = (
        h.join(keepers, "h")
        .filter(F.col("doc_id") > F.col("keeper"))
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )
    dd = q.join(exact_losers.select("doc_id"), "doc_id", "left_anti")
    sigs = signatures(dd)
    bands = bands_of(sigs)
    nd_losers = (
        _candidates((bands, sigs), (bands, sigs))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    nd = dd.join(nd_losers.select("doc_id"), "doc_id", "left_anti")
    contaminated = (
        score_batch(nd, bench_shingles)
        .filter(F.col("contam_frac") >= MAX_CONTAM_FRAC)
        .select("doc_id")
        .withColumn("contaminated", F.lit(True))
    )
    qual = q.select("doc_id").withColumn("quality_pass", F.lit(True))
    return _verdicts(
        d.select("doc_id"), qual, exact_losers, nd_losers, contaminated
    ).orderBy("doc_id")


def stream_curate(
    stream: DataFrame,
    bench_shingles: DataFrame,
    index_path: str,
    sink_path: str,
    checkpoint: str,
    available_now: bool = False,
    band_cap: int | None = None,
    compact_every: int | None = 16,
    packed_path: str | None = None,
    rows_per_bucket: int | None = None,
    classifier: tuple[list[float], float] | None = None,
):
    """Start the streaming curation query; returns the StreamingQuery.

    ``classifier`` (round 8) optionally adds the LEARNED quality gate —
    the CCNet-style scorer's margin > 0 over caller-supplied (weights,
    bias), e.g. the committed fixture model or a fit_logreg result —
    alongside the rule gate. Per-trigger cost is one bounded featurize
    aggregate over the ARRIVING batch only; pass the same model to
    :func:`curate_decisions_batch` and stream == batch holds with the
    gate on (tested).

    Per-doc decisions (same schema as :func:`curate_decisions_batch`) land
    under ``sink_path``; the exact-hash and near-dup-signature indexes
    accumulate under ``index_path``/{exact,sig,bands}. All writes
    batch-id-keyed. ``band_cap`` applies the near-dup stage's freeze policy
    (see stream_near_dup) — opt-in, outside the exact twin contract.
    ``compact_every`` (round 6) folds each index's batch directories into a
    keeper every N batches (streaming/index.py): the exact index folds to
    its min-doc_id-per-hash keeper, bands/sig rewrite as-is, and the band
    count side index sums — so per-batch cost stops growing with stream age
    (the exact keeper is never re-aggregated, the directory count is
    bounded, the freeze set derives from folded counts). Decisions are
    identical with compaction on or off.

    Round 7: keepers are HASH-BUCKETED on their key (exact on h, bands/cnt
    on (band, bkey), signatures on doc_id) and every per-batch keeper scan
    is PRUNED to the buckets the arriving batch touches
    (streaming/index.py), so keeper bytes read per batch are bounded by
    O(arriving keys x rows_per_bucket) once the index outgrows the trigger
    — not O(full index). Bit-identical decisions either way.
    ``rows_per_bucket`` overrides the bucket sizing for tests/probes.

    The decisions sink additionally maintains a FOLDED per-stage-count
    index (``index_path``/fcnt — one row per batch, summed at compaction),
    so :func:`read_funnel_incremental` reports the curation funnel from
    O(compact_every) rows instead of re-aggregating the whole decisions
    sink.

    ``packed_path`` (round 6) adds the one curation stage the stream
    previously lacked — SEQUENCE PACKING: each batch's kept docs get
    (doc_id, n_tokens, start_offset, seq_id) with globally monotone offsets.
    The base offset comes from an accumulating per-batch token-total index
    (``index_path``/tokens — one row per batch, folded to one row at
    compaction), in-batch offsets from the distributed prefix-sum, so a
    replayed batch recomputes the identical offsets (its own total is
    excluded from its base by batch id). Offsets follow ARRIVAL order; with
    files arriving in doc_id order the output is row-identical to
    :func:`pack_kept_batch` (tested). Read back with :func:`read_packed`.
    """

    from .index import ROWS_PER_BUCKET

    rpb = ROWS_PER_BUCKET if rows_per_bucket is None else rows_per_bucket

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Each stage's verdict feeds several downstream subtrees, and lazy
        # evaluation would re-run the whole upstream chain once per action
        # (measured ~4x: 40s per 200k-doc batch where the stage sum is ~11s).
        # So the per-batch dataflow MATERIALIZES each reused intermediate
        # exactly once: the quality survivors persist for the batch duration,
        # and the signature/hash tables are read back from the index files
        # the batch just wrote (a free materialization — the write is part of
        # the protocol anyway). The loser/verdict tables are tiny id lists;
        # persist + eager count pins them.
        from .index import append, batch_dir, compact, read_index, read_split
        from .neardup import _frozen_from_counts, _sum_counts

        spark = batch_df.sparkSession
        exact_p, sig_p, bands_p, cnt_p, tok_p, fcnt_p = (
            f"{index_path}/{t}"
            for t in ("exact", "sig", "bands", "cnt", "tokens", "fcnt")
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(
                spark,
                exact_p,
                batch_id,
                fold=_min_keeper,
                bucket_cols=["h"],
                rows_per_bucket=rpb,
            )
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
            if packed_path is not None:
                compact(spark, tok_p, batch_id, fold=_sum_token_totals)
            compact(spark, fcnt_p, batch_id, fold=_sum_stage_counts)
            # the SINKS fold too (identity): they are never re-read per
            # batch, but a month-long ingest would otherwise leave one
            # directory per batch for the final consumer to list; the
            # same below-the-triggering-id rule keeps replays safe
            compact(spark, sink_path, batch_id)
            if packed_path is not None:
                compact(spark, packed_path, batch_id)
        pinned = []

        def pin(df: DataFrame) -> DataFrame:
            df = df.persist()
            df.count()
            pinned.append(df)
            return df

        try:
            # a micro-batch often arrives as ONE file = ONE scan partition —
            # without this spread the whole md5-minhash chain runs on a
            # single core (measured 31s vs 12s per 200k-doc batch)
            n = spark.sparkContext.defaultParallelism
            d = batch_df.select("doc_id", "text").repartition(n, "doc_id")
            q = pin(_quality(d, classifier))

            # stage 2: exact keep-first vs the accumulated hash index — the
            # compacted keeper (1 row/hash, scan PRUNED to the arriving
            # hashes' buckets) plus bounded recent appends. The arriving
            # hashes are read BACK from the file just appended (the same
            # protocol as the sig/band tables), so the md5 chain runs once
            # per batch — not re-evaluated by the prune collect and the
            # loser join
            append(_hashes(q), exact_p, batch_id)
            ah = spark.read.parquet(batch_dir(exact_p, batch_id))
            keeper, recent = read_split(spark, exact_p, prune=(ah, ["h"]))
            exact_losers = pin(
                _exact_losers(keeper, recent, ah).withColumn("exact_dup", F.lit(True))
            )
            dd = q.join(exact_losers.select("doc_id"), "doc_id", "left_anti")

            # stage 3: near-dup vs the accumulated signature index (survivors
            # only); arriving signatures/bands are read back from the files
            # just written so candidate generation never recomputes the md5
            # minhash chain
            append(signatures(dd), sig_p, batch_id)
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
            nd_losers = pin(
                _candidates_pruned(spark, bands_p, sig_p, ab, asig, frozen, pin)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
                .withColumn("near_dup", F.lit(True))
            )
            nd = dd.join(nd_losers.select("doc_id"), "doc_id", "left_anti")

            # stage 4: decontamination gate
            contaminated = pin(
                score_batch(nd, bench_shingles)
                .filter(F.col("contam_frac") >= MAX_CONTAM_FRAC)
                .select("doc_id")
                .withColumn("contaminated", F.lit(True))
            )

            # stage 5 (opt-in): sequence packing with globally monotone
            # offsets — base = sum of EARLIER batches' token totals (own
            # batch excluded by id, so a replay recomputes identical
            # offsets), in-batch offsets from the distributed prefix-sum;
            # the base joins back as a broadcast 1-row cross join, no driver
            # scalar
            if packed_path is not None:
                from ..operators.prefixsum import exclusive_cumsum

                kept = nd.join(
                    contaminated.select("doc_id"), "doc_id", "left_anti"
                )
                # pinned: three downstream actions reuse it (the token-total
                # append, exclusive_cumsum's internal totals.count(), and the
                # packed write) — without the pin each re-executes the
                # kept-join + tokenization chain
                toks = pin(
                    kept.select("doc_id", F.expr(_N_TOKENS).alias("n_tokens"))
                )
                append(
                    toks.agg(
                        F.lit(batch_id).cast("long").alias("batch_id"),
                        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
                    ),
                    tok_p,
                    batch_id,
                )
                base = (
                    read_index(spark, tok_p)
                    .filter(F.col("batch_id") < batch_id)
                    .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("_base"))
                )
                packed = exclusive_cumsum(
                    toks,
                    "doc_id",
                    "n_tokens",
                    out="_off",
                    shard_width=PACK_SHARD_DOCS,
                )
                packed.crossJoin(F.broadcast(base)).select(
                    "doc_id",
                    "n_tokens",
                    (F.col("_off") + F.col("_base")).alias("start_offset"),
                    F.expr(f"(_off + _base) div {PACK_BUDGET}").alias("seq_id"),
                ).write.mode("overwrite").parquet(
                    f"{packed_path}/batch-{batch_id:09d}"
                )

            qual = q.select("doc_id").withColumn("quality_pass", F.lit(True))
            _verdicts(
                d.select("doc_id"), qual, exact_losers, nd_losers, contaminated
            ).write.mode("overwrite").parquet(f"{sink_path}/batch-{batch_id:09d}")
            # incremental funnel state: fold THIS batch's stage counts into
            # the fcnt index (read back from the just-written decisions —
            # a one-directory scan), so the funnel report never re-reads
            # the whole decisions sink. Batch-id-keyed like everything else:
            # a replay overwrites its own row, compaction sums ids < trigger.
            append(
                _stage_counts(
                    spark.read.parquet(f"{sink_path}/batch-{batch_id:09d}")
                ),
                fcnt_p,
                batch_id,
            )
        finally:
            for df in pinned:
                df.unpersist()

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_curated(spark: SparkSession, sink_path: str) -> DataFrame:
    """Read everything stream_curate wrote under ``sink_path``: the newest
    complete keeper plus the batch dirs it has not folded (``read_index``)."""
    from .index import read_index

    return read_index(spark, sink_path)


def read_packed(spark: SparkSession, packed_path: str) -> DataFrame:
    """Read the packed sequences stream_curate wrote under ``packed_path``
    (requires the query to have run with ``packed_path`` set), through
    ``read_index`` like :func:`read_curated`."""
    from .index import read_index

    return read_index(spark, packed_path)


_STAGE_COUNT_COLS = ["n_input", "n_quality", "n_exact", "n_nd", "n_kept"]


def _stage_counts(dec: DataFrame) -> DataFrame:
    """One row of per-stage survivor counts over a decisions table. Stage
    columns are NULL once an earlier stage rejected, so `flag = false`
    counts exactly that stage's survivors."""
    not_set_or = lambda c: ~F.coalesce(F.col(c), F.lit(True))  # noqa: E731
    return dec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input"),
        F.count_if(F.col("quality_pass")).cast("bigint").alias("n_quality"),
        F.count_if(not_set_or("exact_dup")).cast("bigint").alias("n_exact"),
        F.count_if(not_set_or("near_dup")).cast("bigint").alias("n_nd"),
        F.count_if(F.col("kept")).cast("bigint").alias("n_kept"),
    )


def _sum_stage_counts(df: DataFrame) -> DataFrame:
    """Compaction fold for the fcnt index: stage counts are additive across
    batches, so the keeper is their component-wise sum — one row."""
    return df.agg(
        *[F.coalesce(F.sum(c), F.lit(0)).cast("bigint").alias(c) for c in _STAGE_COUNT_COLS]
    )


def _funnel_report(one: DataFrame) -> DataFrame:
    """Melt a one-row stage-count table into the (stage_id, stage, n_docs,
    n_dropped, retention) report — the same shape as the batch
    curation_funnel query."""
    from ..plans.compose import funnel_from_counts

    stages = [
        (0, "input", "n_input"),
        (1, "quality", "n_quality"),
        (2, "exact_dedup", "n_exact"),
        (3, "near_dup", "n_nd"),
        (4, "decontam", "n_kept"),
    ]
    melted = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("stage_id"),
                        F.lit(name).alias("stage"),
                        F.col(col).alias("n_docs"),
                    )
                    for i, name, col in stages
                ]
            )
        ).alias("s")
    ).select("s.*")
    return funnel_from_counts(melted)


def read_funnel(spark: SparkSession, sink_path: str) -> DataFrame:
    """The streaming curation funnel: aggregate the decisions sink into the
    same (stage_id, stage, n_docs, n_dropped, retention) report as the batch
    curation_funnel query — but under the stream's GREEDY semantics (each
    doc judged once against what arrived before it), so the numbers are the
    stream's own, not the offline chain's. One map-side-combined count
    aggregate over the FULL sink — O(stream); prefer
    :func:`read_funnel_incremental` for long streams.
    """
    return _funnel_report(_stage_counts(read_curated(spark, sink_path)))


def read_funnel_incremental(spark: SparkSession, index_path: str) -> DataFrame:
    """The same funnel report from the FOLDED per-stage-count index
    (``index_path``/fcnt): one summed keeper row plus at most compact_every
    per-batch rows — an O(compact_every) read regardless of stream age,
    where :func:`read_funnel` re-aggregates the whole decisions sink.
    Row-identical to read_funnel over the same stream (tested)."""
    from .index import read_index

    return _funnel_report(_sum_stage_counts(read_index(spark, f"{index_path}/fcnt")))
