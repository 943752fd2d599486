"""Direct protocol tests for streaming/index.py — the compaction invariants
the streaming equivalence tests exercise only implicitly, plus the two crash
windows the module docstring claims are safe (keeper-written-but-inputs-
not-deleted, and partial-keeper-without-_SUCCESS)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hdfs2cass_spark.streaming.index import (
    append,
    batch_dir,
    compact,
    n_subdirs,
    read_index,
    read_split,
    _parts,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), F.pmod(F.col("id"), 5).alias("h")
    )


def _rows(df):
    return sorted((r["doc_id"], r["h"]) for r in df.collect())


def test_append_read_roundtrip_and_split(spark, tmp_path):
    p = str(tmp_path / "idx")
    append(_mk(spark, 0, 10), p, 0)
    append(_mk(spark, 10, 20), p, 1)
    keeper, recent = read_split(spark, p)
    assert keeper is None  # nothing compacted yet
    assert _rows(recent) == _rows(_mk(spark, 0, 20))
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 20))
    # replayed append overwrites its own directory: no duplicates
    append(_mk(spark, 0, 10), p, 0)
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 20))


def test_compact_folds_deletes_and_preserves_rows(spark, tmp_path):
    p = str(tmp_path / "idx")
    for b in range(4):
        append(_mk(spark, 10 * b, 10 * (b + 1)), p, b)
    assert compact(spark, p, 4)  # identity fold
    keepers, batches = _parts(spark, p)
    assert keepers == [4] and batches == []
    assert n_subdirs(spark, p) == 1
    # identity fold rewrites the same rows
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 40))
    # later appends coexist with the keeper
    append(_mk(spark, 40, 50), p, 4)
    keeper, recent = read_split(spark, p)
    assert _rows(keeper) == _rows(_mk(spark, 0, 40))
    assert _rows(recent) == _rows(_mk(spark, 40, 50))


def test_compact_with_fold_aggregates_keeper(spark, tmp_path):
    p = str(tmp_path / "idx")
    for b in range(3):
        append(_mk(spark, 10 * b, 10 * (b + 1)), p, b)
    compact(
        spark, p, 3, fold=lambda df: df.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    )
    keeper, recent = read_split(spark, p)
    assert recent is None
    got = {r["h"]: r["doc_id"] for r in keeper.collect()}
    assert got == {h: h for h in range(5)}  # min doc_id per h over 0..29
    # a second compaction folds the keeper itself plus new appends
    append(_mk(spark, 30, 40), p, 3)
    compact(
        spark, p, 4, fold=lambda df: df.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    )
    keeper, recent = read_split(spark, p)
    assert recent is None and keeper.count() == 5
    assert {r["h"]: r["doc_id"] for r in keeper.collect()} == {h: h for h in range(5)}


def test_compact_never_folds_the_triggering_batch_or_newer(spark, tmp_path):
    p = str(tmp_path / "idx")
    for b in range(4):
        append(_mk(spark, 10 * b, 10 * (b + 1)), p, b)
    compact(spark, p, 2)  # folds only ids 0,1
    keepers, batches = _parts(spark, p)
    assert keepers == [2] and batches == [2, 3]
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 40))


def test_crash_mid_write_rebuilds_from_untouched_sources(spark, tmp_path):
    """A keeper directory WITHOUT _SUCCESS (crash during the keeper write)
    must be rebuilt from the still-present sources — full row fidelity."""
    p = str(tmp_path / "idx")
    for b in range(3):
        append(_mk(spark, 10 * b, 10 * (b + 1)), p, b)
    # simulate the torn write: a keeper dir exists, partial content, no marker
    torn = f"{p}/keeper-{3:09d}"
    _mk(spark, 0, 5).write.mode("overwrite").parquet(torn)
    os.remove(f"{torn}/_SUCCESS")
    assert compact(spark, p, 3)
    keepers, batches = _parts(spark, p)
    assert keepers == [3] and batches == []
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 30))


def test_crash_mid_delete_finishes_cleanup_without_reread(spark, tmp_path):
    """A completed keeper (_SUCCESS present) with leftover folded inputs
    (crash during the deletes) must NOT be rebuilt — the replayed compaction
    just finishes the deletes, and the index rows are unchanged."""
    p = str(tmp_path / "idx")
    for b in range(2):
        append(_mk(spark, 10 * b, 10 * (b + 1)), p, b)
    compact(spark, p, 2)
    append(_mk(spark, 20, 30), p, 2)
    compact(spark, p, 3)  # keeper-3, batch dirs gone
    # simulate the crash-mid-delete leftovers: an old keeper and an old batch
    # dir that the (interrupted) delete pass missed
    _mk(spark, 0, 10).write.mode("overwrite").parquet(f"{p}/keeper-{2:09d}")
    _mk(spark, 0, 10).write.mode("overwrite").parquet(batch_dir(p, 0))
    assert n_subdirs(spark, p) == 3
    assert compact(spark, p, 3)  # replay: keeper-3 already has _SUCCESS
    keepers, batches = _parts(spark, p)
    assert keepers == [3] and batches == []
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 30))


def test_readers_never_trust_a_torn_keeper(spark, tmp_path):
    """An external reader (a monitor, read_funnel_incremental) racing a
    live compaction mid-write — after the keeper dir exists but before its
    _SUCCESS lands — must fall back to the newest COMPLETE keeper and keep
    batch dirs >= ITS id; a torn keeper as the only visible copy of folded
    data would silently serve partial rows (round-7 advice, medium)."""
    p = str(tmp_path / "idx")
    append(_mk(spark, 0, 10), p, 0)
    append(_mk(spark, 10, 20), p, 1)
    compact(spark, p, 2)  # complete keeper-2
    append(_mk(spark, 20, 30), p, 2)
    append(_mk(spark, 30, 40), p, 3)
    # simulate a racing compact(4) caught mid-write: partial content, no marker
    torn = f"{p}/keeper-{4:09d}"
    _mk(spark, 0, 5).write.mode("overwrite").parquet(torn)
    os.remove(f"{torn}/_SUCCESS")
    keeper, recent = read_split(spark, p)
    assert _rows(keeper) == _rows(_mk(spark, 0, 20))  # complete keeper-2
    assert _rows(recent) == _rows(_mk(spark, 20, 40))  # batches >= 2 survive
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 40))


def test_readers_with_only_a_torn_keeper_fall_back_to_batches(spark, tmp_path):
    """No complete keeper at all (first-ever compaction caught mid-write):
    every batch dir is still present and must stay visible."""
    p = str(tmp_path / "idx")
    append(_mk(spark, 0, 10), p, 0)
    append(_mk(spark, 10, 20), p, 1)
    torn = f"{p}/keeper-{2:09d}"
    _mk(spark, 0, 3).write.mode("overwrite").parquet(torn)
    os.remove(f"{torn}/_SUCCESS")
    keeper, recent = read_split(spark, p)
    assert keeper is None
    assert _rows(recent) == _rows(_mk(spark, 0, 20))


def test_compact_rebuild_ignores_torn_old_keeper_and_deletes_it(spark, tmp_path):
    """A torn keeper from an EARLIER crashed compaction (id < the new
    trigger) must not be folded as authoritative — its sources are still
    present and carry the truth; the torn dir is delete-pass input only."""
    p = str(tmp_path / "idx")
    append(_mk(spark, 0, 10), p, 0)
    append(_mk(spark, 10, 20), p, 1)
    compact(spark, p, 2)  # complete keeper-2
    append(_mk(spark, 20, 30), p, 2)
    # crashed compact(3): torn keeper holding a partial subset
    torn = f"{p}/keeper-{3:09d}"
    _mk(spark, 0, 5).write.mode("overwrite").parquet(torn)
    os.remove(f"{torn}/_SUCCESS")
    append(_mk(spark, 30, 40), p, 3)
    assert compact(spark, p, 4)
    keepers, batches = _parts(spark, p)
    assert keepers == [4] and batches == []  # torn keeper-3 deleted
    assert _rows(read_index(spark, p)) == _rows(_mk(spark, 0, 40))


def test_invalidate_cache_hook(spark, tmp_path):
    """The wipe-and-restart escape hatch: mtime granularity (1 s on many
    filesystems) means a same-second wipe+recreate of an identically named
    keeper could serve a stale cached relation; invalidate_cache() is the
    documented explicit fix."""
    from hdfs2cass_spark.streaming.index import _KEEPER_CACHE, invalidate_cache

    p = str(tmp_path / "idx")
    append(_mk(spark, 0, 10), p, 0)
    compact(spark, p, 1)
    read_split(spark, p)  # populates the cache
    assert any(d.startswith(f"{p}/keeper-") for d in _KEEPER_CACHE)
    invalidate_cache(p)
    assert not any(d.startswith(f"{p}/keeper-") for d in _KEEPER_CACHE)
    read_split(spark, p)
    assert any(d.startswith(f"{p}/keeper-") for d in _KEEPER_CACHE)
    invalidate_cache()
    assert not _KEEPER_CACHE


def test_compact_on_empty_or_missing_path_is_a_noop(spark, tmp_path):
    p = str(tmp_path / "nothing")
    assert compact(spark, p, 5) is False
    with pytest.raises(FileNotFoundError):
        read_index(spark, p)
    shutil.rmtree(p, ignore_errors=True)


@pytest.mark.slow
def test_random_append_compact_interleavings_preserve_rows(spark, tmp_path):
    """Invariant over arbitrary (seeded) interleavings: whatever compaction
    points fire, the identity-fold index always reads back exactly the union
    of everything appended — compaction can only MOVE rows, never drop or
    duplicate them."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        p = str(tmp_path / f"rnd{seed}")
        appended = []
        for b in range(rng.randint(6, 12)):
            lo = 100 * b
            hi = lo + rng.randint(1, 20)
            append(_mk(spark, lo, hi), p, b)
            appended.append((lo, hi))
            if rng.random() < 0.4 and b > 0:
                compact(spark, p, b)  # fold everything before this batch
        got = _rows(read_index(spark, p))
        want = sorted(
            (i, i % 5) for lo, hi in appended for i in range(lo, hi)
        )
        assert got == want, f"seed {seed}"


def test_stale_batches_below_keeper_never_refold_or_reread(spark, tmp_path):
    """Batch dirs with id < the newest keeper are that keeper's own folded
    content, alive only inside compact's write-then-delete window (or after
    a crash in it). They must be (a) invisible to readers — a racing
    read_split would otherwise double-count summed folds — and (b) inputs
    to the next compaction's DELETE pass only, never its fold — a refold
    would double-count PERMANENTLY."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "idx")
    cnt = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.pmod(F.col("id"), 3).alias("k"), F.lit(1).alias("c")
    )
    fold = lambda df: df.groupBy("k").agg(F.sum("c").alias("c"))  # noqa: E731
    append(cnt(0, 30), p, 0)
    append(cnt(30, 60), p, 1)
    compact(spark, p, 2, fold=fold)
    # simulate the crash-mid-delete leftover: re-create batch 1's dir
    append(cnt(30, 60), p, 1)
    # (a) readers skip it: totals stay exact
    total = read_index(spark, p).agg(F.sum("c")).first()[0]
    assert total == 60
    # (b) the next compaction deletes it without refolding
    append(cnt(60, 90), p, 2)
    compact(spark, p, 3, fold=fold)
    keepers, batches = _parts(spark, p)
    assert keepers == [3] and batches == []
    got = {r["k"]: r["c"] for r in read_index(spark, p).collect()}
    assert got == {0: 30, 1: 30, 2: 30}


def test_stream_sink_readers_return_each_row_once(spark, tmp_path):
    """The decisions/curated/packed/scored sink readers go through
    read_index: a compacted sink caught with a batch dir its complete keeper
    already folded (compact's write-then-delete window) AND a torn newer
    keeper (crash mid-write, sources intact) still yields every row exactly
    once. A recursive read of the sink directory returns both copies."""
    from hdfs2cass_spark.streaming.curate import read_curated, read_funnel, read_packed
    from hdfs2cass_spark.streaming.decontam import read_scored
    from hdfs2cass_spark.streaming.neardup import read_decisions

    def dec(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.lit(True).alias("quality_pass"),
            F.lit(False).alias("exact_dup"),
            F.lit(False).alias("near_dup"),
            F.lit(True).alias("kept"),
        )

    p = str(tmp_path / "sink")
    append(dec(0, 10), p, 0)
    append(dec(10, 20), p, 1)
    compact(spark, p, 2)  # complete keeper-2
    append(dec(10, 20), p, 1)  # folded into keeper-2, not yet deleted
    append(dec(20, 30), p, 2)
    append(dec(30, 40), p, 3)
    torn = f"{p}/keeper-{4:09d}"
    dec(20, 25).write.mode("overwrite").parquet(torn)
    os.remove(f"{torn}/_SUCCESS")

    for read in (read_decisions, read_curated, read_packed, read_scored):
        ids = sorted(r["doc_id"] for r in read(spark, p).select("doc_id").collect())
        assert ids == list(range(40)), read.__name__
    funnel = {r["stage"]: r["n_docs"] for r in read_funnel(spark, p).collect()}
    assert funnel["input"] == 40 and funnel["decontam"] == 40
