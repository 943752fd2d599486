"""Structured Streaming tests: stream results must equal the batch catalog
query on the same data (availableNow trigger = bounded deterministic run)."""

import shutil

import pytest

from hdfs2cass_spark.plans import CATALOG
from hdfs2cass_spark.streaming.ingest import (
    sessionize_stream,
    sliding_counts_stream,
    stream_events,
    tumbling_counts_stream,
)


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_tumbling_equals_batch(spark, sf_dir, events_dir):
    stream = stream_events(spark, events_dir)
    assert stream.isStreaming
    got = _run_stream(spark, tumbling_counts_stream(stream), "tumbling_test")
    # the declared query now unions both window kinds under a tag: the
    # stream's twin is its 'tumbling' slice
    batch = (
        CATALOG["tumbling_window_events"]
        .fn(spark, sf_dir)
        .filter("kind = 'tumbling'")
        .drop("kind")
    )
    g = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert g == b


def test_stream_sliding_equals_batch(spark, sf_dir, events_dir):
    """Sliding windows (1h / 15min slide): the stream's overlapping-window
    aggregate must equal the batch sliding_window_events query — each event
    counted in every window covering it, exactly once per window."""
    stream = stream_events(spark, events_dir)
    got = _run_stream(spark, sliding_counts_stream(stream), "sliding_test")
    batch = (
        CATALOG["tumbling_window_events"]
        .fn(spark, sf_dir)
        .filter("kind = 'sliding'")
        .drop("kind", "event_type")
    )
    g = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert g == b


def test_sessionize_stream_runs(spark, events_dir):
    stream = stream_events(spark, events_dir)
    got = _run_stream(spark, sessionize_stream(stream), "session_test")
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["session_end_ms"] >= r["session_start_ms"]
        assert r["n_events"] >= 1


def test_stream_decontamination_equals_batch(spark, sf_dir, tmp_path):
    """Streaming decontamination over micro-batches must produce exactly the
    batch twin's rows: same broadcast scoring plan per batch, zero streaming
    state. Train docs split across 3 files = 3 micro-batches."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingles
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import read_scored, stream_decontamination, stream_documents

    d = load_table(spark, sf_dir, "documents")
    bench = shingles(
        d.filter(F.expr(_BENCH_SPARK)).select("doc_id", F.expr(W_SPARK).alias("ws"))
    ).select("s").distinct()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    train = d.filter(~F.expr(_BENCH_SPARK)).select(*cols)

    src = tmp_path / "docs_stream"
    src.mkdir()
    for i in range(3):
        train.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"part{i}.parquet"))
    # flatten: the file source watches one directory of files
    import glob
    import shutil

    flat = tmp_path / "docs_flat"
    flat.mkdir()
    for j, f in enumerate(sorted(glob.glob(str(src / "part*" / "*.parquet")))):
        shutil.copy(f, flat / f"{j}.parquet")

    out = str(tmp_path / "scored")
    q = stream_decontamination(
        stream_documents(spark, str(flat)),
        bench,
        out,
        str(tmp_path / "ck"),
        available_now=True,
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in read_scored(spark, out).collect())
    want = sorted(
        tuple(r) for r in CATALOG["decontamination_overlap"].fn(spark, sf_dir).collect()
    )
    assert got == want


def test_stream_decontamination_checkpoint_resume(spark, sf_dir, tmp_path):
    """Stopping and restarting against the same checkpoint must score each
    file exactly once: the restart picks up only the file added after the
    first run, never re-emitting earlier docs."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingles
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import read_scored, stream_decontamination, stream_documents

    d = load_table(spark, sf_dir, "documents")
    bench = shingles(
        d.filter(F.expr(_BENCH_SPARK)).select("doc_id", F.expr(W_SPARK).alias("ws"))
    ).select("s").distinct()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    train = d.filter(~F.expr(_BENCH_SPARK)).select(*cols)

    import glob
    import shutil

    flat = tmp_path / "docs_resume"
    flat.mkdir()

    def seed(i):
        part = tmp_path / f"p{i}"
        train.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part))
        src = sorted(glob.glob(str(part / "*.parquet")))[0]
        shutil.copy(src, flat / f"{i}.parquet")

    out, ck = str(tmp_path / "scored"), str(tmp_path / "ck")
    seed(0)
    seed(1)
    q = stream_decontamination(stream_documents(spark, str(flat)), bench, out, ck, available_now=True)
    q.awaitTermination(120)
    first = read_scored(spark, out).count()

    seed(2)
    q2 = stream_decontamination(stream_documents(spark, str(flat)), bench, out, ck, available_now=True)
    q2.awaitTermination(120)

    got = sorted(tuple(r) for r in read_scored(spark, out).collect())
    want = sorted(
        tuple(r) for r in CATALOG["decontamination_overlap"].fn(spark, sf_dir).collect()
    )
    assert got == want  # all three files scored, none twice
    assert first < len(got)  # the restart added only the new file's docs

    # replay idempotency: foreachBatch is at-least-once, so a crash between
    # the parquet write and the checkpoint commit re-runs a batch_id. A fresh
    # checkpoint re-scores every file into the SAME sink (the worst-case
    # replay); per-batch-directory overwrite must leave the row set unchanged.
    q3 = stream_decontamination(
        stream_documents(spark, str(flat)), bench, out, str(tmp_path / "ck2"),
        available_now=True,
    )
    q3.awaitTermination(120)
    replayed = sorted(tuple(r) for r in read_scored(spark, out).collect())
    assert replayed == want


def test_stream_near_dup_equals_batch(spark, sf_dir, tmp_path):
    """Streaming near-dup decisions against the accumulating signature index
    must equal the batch twin exactly when files arrive in doc_id order
    (arrival order IS the 'earlier' relation both sides use), including
    in-batch pairs and cross-batch pairs."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import (
        near_dup_decisions_batch,
        read_decisions,
        stream_documents,
        stream_near_dup,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    flat = tmp_path / "nd_flat"
    flat.mkdir()
    for i in range(3):  # doc_id RANGES: batch order == doc_id order
        part = tmp_path / f"nd_p{i}"
        d.filter(
            (F.col("doc_id") >= i * n / 3) & (F.col("doc_id") < (i + 1) * n / 3)
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("nd_idx", "nd_out", "nd_ck"))
    q = stream_near_dup(
        stream_documents(spark, str(flat)), idx, out, ck, available_now=True
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in read_decisions(spark, out).collect())
    want = sorted(tuple(r) for r in near_dup_decisions_batch(d).collect())
    assert got == want
    assert any(r[1] for r in want), "fixture corpus must contain near-dups"

    # replay idempotency: a fresh checkpoint re-processes every file into the
    # SAME index + sink (worst-case at-least-once replay); batch-directory
    # overwrite must leave both row sets unchanged — in particular a replayed
    # batch must NOT match against its own earlier index append.
    q2 = stream_near_dup(
        stream_documents(spark, str(flat)), idx, out, str(tmp_path / "nd_ck2"),
        available_now=True,
    )
    q2.awaitTermination(120)
    replayed = sorted(tuple(r) for r in read_decisions(spark, out).collect())
    assert replayed == want


@pytest.mark.slow
def test_stream_near_dup_out_of_order_arrival_contract(spark, tmp_path):
    """Pins the documented contract when files arrive OUT of doc_id order:
    a doc is judged against what the index held AT ITS ARRIVAL, with doc_id
    as the logical 'earlier' relation. So when high ids arrive first, (a)
    their decisions cannot see the not-yet-arrived low ids (the stream
    diverges from the order-independent twin exactly there), while (b)
    late-arriving low ids still get twin-identical decisions (their
    candidates are lower ids only, all present by then)."""
    import glob
    import shutil

    from pyspark.sql import Row

    from hdfs2cass_spark.streaming import (
        near_dup_decisions_batch,
        read_decisions,
        stream_documents,
        stream_near_dup,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = [
        Row(doc_id=i, text=f"only unique words {i} one two three four five six")
        for i in range(2, 50)
    ] + [
        Row(doc_id=100 + i, text=f"more unique words {i} six seven eight nine ten")
        for i in range(2, 50)
    ]
    high = spark.createDataFrame([Row(doc_id=100, text=text), Row(doc_id=101, text=text)]
                                 + [r for r in filler if r.doc_id >= 100])
    low = spark.createDataFrame([Row(doc_id=0, text=text), Row(doc_id=1, text=text)]
                                + [r for r in filler if r.doc_id < 100])
    flat = tmp_path / "oo_flat"
    flat.mkdir()
    for j, b in enumerate((high, low)):  # HIGH ids arrive FIRST
        part = tmp_path / f"oo_p{j}"
        b.coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{j}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("oo_idx", "oo_out", "oo_ck"))
    q = stream_near_dup(stream_documents(spark, str(flat)), idx, out, ck, available_now=True)
    q.awaitTermination(120)
    dec = {r["doc_id"]: r for r in read_decisions(spark, out).collect()}
    twin = {
        r["doc_id"]: r
        for r in near_dup_decisions_batch(high.unionByName(low)).collect()
    }
    # (a) the order-independent twin flags 100 as a dup of 0 (lower id,
    # same text); the stream judged 100 before 0 had arrived, so it does NOT
    assert twin[100]["is_dup"] and twin[100]["first_match"] == 0
    assert not dec[100]["is_dup"]  # the documented divergence
    # (b) late-arriving low ids: twin-identical (their candidates are lower
    # ids only, all present by their arrival)
    assert tuple(dec[1]) == tuple(twin[1])
    assert dec[1]["is_dup"] and dec[1]["first_match"] == 0
    assert tuple(dec[0]) == tuple(twin[0])  # the first copy stays kept


@pytest.mark.slow
def test_stream_curate_with_learned_gate_equals_batch_twin(spark, sf_dir, tmp_path):
    """The optional LEARNED quality gate (the round-8 classifier's
    margin > 0 with the committed fixture weights) must keep stream ==
    batch decision equality, and must actually reject docs the rule gate
    alone passes (the gate does real work on the fixture corpus)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingles
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.plans.quality_clf import _fixture_model
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_documents
    from hdfs2cass_spark.streaming.curate import (
        curate_decisions_batch,
        read_curated,
        stream_curate,
    )

    model = _fixture_model()
    docs = load_table(spark, sf_dir, "documents")
    bench = shingles(
        docs.filter(F.expr(_BENCH_SPARK)).select("doc_id", F.expr(W_SPARK).alias("ws"))
    ).select("s").distinct()
    train = docs.filter(~F.expr(_BENCH_SPARK)).select("doc_id", "text")

    n = train.agg(F.max("doc_id")).first()[0] + 1
    flat = tmp_path / "clfg_flat"
    flat.mkdir()
    for i in range(2):
        part = tmp_path / f"clfg_p{i}"
        train.filter(
            (F.col("doc_id") >= i * n / 2) & (F.col("doc_id") < (i + 1) * n / 2)
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("clfg_idx", "clfg_out", "clfg_ck"))
    q = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck,
        available_now=True, classifier=model,
    )
    q.awaitTermination(180)

    got = sorted(tuple(r) for r in read_curated(spark, out).collect())
    want_df = curate_decisions_batch(train, bench, classifier=model)
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
    # the learned gate rejects MORE than the rule gate alone
    rule_only = curate_decisions_batch(train, bench)
    n_gated = want_df.filter("quality_pass").count()
    n_rule = rule_only.filter("quality_pass").count()
    assert 0 < n_gated < n_rule


def test_stream_curate_equals_greedy_batch_twin(spark, sf_dir, tmp_path):
    """The full on-ingest curation chain (quality -> exact keep-first vs hash
    index -> near-dup vs signature index -> decontam) must produce exactly
    the greedy arrival-order twin's per-doc decisions when files arrive in
    doc_id order — and each stage must actually reject something on the
    fixture corpus."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingles
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_documents
    from hdfs2cass_spark.streaming.curate import (
        curate_decisions_batch,
        read_curated,
        stream_curate,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = shingles(
        docs.filter(F.expr(_BENCH_SPARK)).select("doc_id", F.expr(W_SPARK).alias("ws"))
    ).select("s").distinct()
    base = docs.filter(~F.expr(_BENCH_SPARK)).select("doc_id", "text")
    # seed exact duplicates (the sf0.001 fixture has near-dups but no exact
    # text copies): re-emit 10 early docs under fresh high ids, so the exact
    # keep-first stage has real work in BOTH the stream and the twin
    hi = base.agg(F.max("doc_id")).first()[0] + 1
    dupes = (
        base.orderBy("doc_id")
        .limit(10)
        .select((F.col("doc_id") + hi).alias("doc_id"), "text")
    )
    train = base.unionByName(dupes)

    n = train.agg(F.max("doc_id")).first()[0] + 1
    flat = tmp_path / "cu_flat"
    flat.mkdir()
    for i in range(3):  # doc_id RANGES: batch order == doc_id order
        part = tmp_path / f"cu_p{i}"
        train.filter(
            (F.col("doc_id") >= i * n / 3) & (F.col("doc_id") < (i + 1) * n / 3)
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("cu_idx", "cu_out", "cu_ck"))
    q = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck, available_now=True
    )
    q.awaitTermination(180)

    got = sorted(tuple(r) for r in read_curated(spark, out).collect())
    want_df = curate_decisions_batch(train, bench)
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
    # every stage does real work on the fixture corpus
    stages = want_df.agg(
        F.sum(F.when(~F.col("quality_pass"), 1).otherwise(0)).alias("q"),
        F.sum(F.when(F.col("exact_dup"), 1).otherwise(0)).alias("e"),
        F.sum(F.when(F.col("near_dup"), 1).otherwise(0)).alias("n"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("k"),
    ).first()
    assert stages["e"] > 0 and stages["n"] > 0 and stages["k"] > 0

    # the streaming funnel over the decisions sink reports the stream's own
    # greedy per-stage counts — identical to counts derived from the twin
    from hdfs2cass_spark.streaming.curate import read_funnel

    funnel = {r.stage: r for r in read_funnel(spark, out).collect()}
    twin = want_df.agg(
        F.count(F.lit(1)).alias("inp"),
        F.count_if(F.col("quality_pass")).alias("q"),
        F.count_if(~F.coalesce(F.col("exact_dup"), F.lit(True))).alias("e"),
        F.count_if(~F.coalesce(F.col("near_dup"), F.lit(True))).alias("n"),
        F.count_if(F.col("kept")).alias("k"),
    ).first()
    assert [funnel[s].n_docs for s in ("input", "quality", "exact_dedup", "near_dup", "decontam")] == [
        twin["inp"], twin["q"], twin["e"], twin["n"], twin["k"]
    ]
    assert funnel["input"].retention == 1.0
    ns = [funnel[s].n_docs for s in ("input", "quality", "exact_dedup", "near_dup", "decontam")]
    assert ns == sorted(ns, reverse=True)


@pytest.mark.parametrize("compact_every", [None, 1])
@pytest.mark.slow
def test_stream_near_dup_band_cap_with_and_without_compaction(
    spark, tmp_path, compact_every
):
    """The freeze policy must behave identically whether the band-key df
    comes from a per-batch re-count (compaction off) or from the folded cnt
    side index (compact_every=1: every batch folds the previous ones into a
    summed keeper before appending its own counts)."""
    import glob
    import shutil

    from hdfs2cass_spark.streaming import read_decisions, stream_documents, stream_near_dup

    hot_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b0 = spark.createDataFrame(
        [(i, hot_text) for i in range(60)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(60 + i, hot_text) for i in range(60)]
        + [(200 + i, f"unique words only here {i} one two three four five") for i in range(5)],
        "doc_id long, text string",
    )
    flat = tmp_path / "bcc_flat"
    flat.mkdir()
    for j, b in enumerate((b0, b1)):
        part = tmp_path / f"bcc_p{j}"
        b.coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{j}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("bcc_idx", "bcc_out", "bcc_ck"))
    q = stream_near_dup(
        stream_documents(spark, str(flat)), idx, out, ck,
        available_now=True, band_cap=50, compact_every=compact_every,
    )
    q.awaitTermination(120)
    dec = {r["doc_id"]: r for r in read_decisions(spark, out).collect()}
    assert len(dec) == 125
    assert not any(dec[i]["is_dup"] for i in range(120))  # frozen hot key
    assert not any(dec[200 + i]["is_dup"] for i in range(5))


@pytest.mark.slow
def test_stream_curate_compaction_bounds_dirs_and_preserves_decisions(
    spark, sf_dir, tmp_path
):
    """Compaction firing mid-stream (compact_every=2 over 6 single-file
    batches, then a 7th after a checkpoint resume) must (a) leave decisions
    row-identical to the greedy batch twin — folding rewrites the same rows —
    (b) bound every index to one keeper + the post-compaction batch dirs,
    and (c) fold the exact index to at most one row per hash."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingles
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_documents
    from hdfs2cass_spark.streaming.curate import (
        curate_decisions_batch,
        read_curated,
        stream_curate,
    )
    from hdfs2cass_spark.streaming.index import _parts, n_subdirs, read_split

    docs = load_table(spark, sf_dir, "documents")
    bench = shingles(
        docs.filter(F.expr(_BENCH_SPARK)).select("doc_id", F.expr(W_SPARK).alias("ws"))
    ).select("s").distinct()
    base = docs.filter(~F.expr(_BENCH_SPARK)).select("doc_id", "text")
    hi = base.agg(F.max("doc_id")).first()[0] + 1
    dupes = (
        base.orderBy("doc_id")
        .limit(10)
        .select((F.col("doc_id") + hi).alias("doc_id"), "text")
    )
    flat = tmp_path / "cc_flat"
    flat.mkdir()

    def seed(i, df):
        part = tmp_path / f"cc_p{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    for i in range(6):  # doc_id RANGES: batch order == doc_id order
        seed(i, base.filter(
            (F.col("doc_id") >= i * hi / 6) & (F.col("doc_id") < (i + 1) * hi / 6)
        ))
    idx, out, ck = (str(tmp_path / p) for p in ("cc_idx", "cc_out", "cc_ck"))
    q = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck,
        available_now=True, compact_every=2,
    )
    q.awaitTermination(300)

    # (b) directory bound: last compaction at batch 4 folded ids < 4 into one
    # keeper; batches 4 and 5 remain raw — for the indexes AND the sink
    for sub in ("exact", "sig", "bands"):
        keepers, batches = _parts(spark, f"{idx}/{sub}")
        assert keepers == [4], f"{sub}: {keepers}"
        assert batches == [4, 5], f"{sub}: {batches}"
        assert n_subdirs(spark, f"{idx}/{sub}") == 3
    assert n_subdirs(spark, out) == 3  # decisions sink folds too

    # (c) the exact keeper is folded: at most one row per hash
    keeper, _recent = read_split(spark, f"{idx}/exact")
    dup_hashes = keeper.groupBy("h").count().filter("count > 1").count()
    assert dup_hashes == 0

    # (a) decisions equal the greedy twin — including across a resume whose
    # new batch (id 6) triggers another compaction fold of ids < 6
    seed(6, dupes)
    q2 = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck,
        available_now=True, compact_every=2,
    )
    q2.awaitTermination(300)
    got = sorted(tuple(r) for r in read_curated(spark, out).collect())
    want = sorted(
        tuple(r)
        for r in curate_decisions_batch(base.unionByName(dupes), bench).collect()
    )
    assert got == want
    keepers, batches = _parts(spark, f"{idx}/exact")
    assert keepers == [6] and batches == [6]
    # the resumed batch's exact duplicates were caught against the KEEPER
    dec = {r[0]: r for r in got}
    dup_ids = {r[0] for r in want if r[0] >= hi and r[2]}
    assert dup_ids and all(dec[i][2] for i in dup_ids)

    # the folded per-stage-count index reports the SAME funnel as the full
    # decisions-sink aggregate, from a bounded read (1 keeper + 1 batch row
    # after the id-6 fold — not one row-set per batch)
    from hdfs2cass_spark.streaming.curate import read_funnel, read_funnel_incremental

    inc = sorted(tuple(r) for r in read_funnel_incremental(spark, idx).collect())
    full = sorted(tuple(r) for r in read_funnel(spark, out).collect())
    assert inc == full
    assert n_subdirs(spark, f"{idx}/fcnt") == 2


@pytest.mark.slow
def test_stream_curate_packing_equals_batch_twin(spark, sf_dir, tmp_path):
    """Streaming sequence packing (packed_path set): per-batch base offsets
    from the accumulating token-total index + in-batch prefix sums must
    produce globally monotone offsets row-identical to the pack_kept_batch
    twin when files arrive in doc_id order — across compactions of the
    token index (compact_every=2 over 6 batches) and a checkpoint resume."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingles
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_documents
    from hdfs2cass_spark.streaming.curate import (
        pack_kept_batch,
        read_packed,
        stream_curate,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = shingles(
        docs.filter(F.expr(_BENCH_SPARK)).select("doc_id", F.expr(W_SPARK).alias("ws"))
    ).select("s").distinct()
    base = docs.filter(~F.expr(_BENCH_SPARK)).select("doc_id", "text")
    hi = base.agg(F.max("doc_id")).first()[0] + 1
    flat = tmp_path / "pk_flat"
    flat.mkdir()

    def seed(i, df):
        part = tmp_path / f"pk_p{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    for i in range(5):
        seed(i, base.filter(
            (F.col("doc_id") >= i * hi / 6) & (F.col("doc_id") < (i + 1) * hi / 6)
        ))
    idx, out, pk, ck = (str(tmp_path / p) for p in ("pk_idx", "pk_out", "pk_pk", "pk_ck"))
    q = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck,
        available_now=True, compact_every=2, packed_path=pk,
    )
    q.awaitTermination(300)

    # resume with the final doc_id range: its offsets must continue from the
    # accumulated (and by now compacted) token totals
    seed(5, base.filter(F.col("doc_id") >= 5 * hi / 6))
    q2 = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck,
        available_now=True, compact_every=2, packed_path=pk,
    )
    q2.awaitTermination(300)

    got = sorted(tuple(r) for r in read_packed(spark, pk).collect())
    want_df = pack_kept_batch(base, bench)
    want = sorted(tuple(r) for r in want_df.collect())
    assert len(want) > 0
    assert got == want
    # offsets are globally monotone in doc_id order and seq ids partition
    # the token axis
    rows = sorted(got)
    for (d1, n1, s1, q1), (d2, n2, s2, q2_) in zip(rows, rows[1:]):
        assert s2 == s1 + n1  # exclusive prefix sum, no gaps across batches


@pytest.mark.slow
def test_stream_curate_checkpoint_resume(spark, sf_dir, tmp_path):
    """Stopping and restarting the curation stream against the same
    checkpoint must process each file exactly once; the resumed run's
    decisions for the NEW batch must see the prior batches' indexes (a
    cross-batch exact duplicate arriving after the restart is still
    caught)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingles
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_documents
    from hdfs2cass_spark.streaming.curate import (
        curate_decisions_batch,
        read_curated,
        stream_curate,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = shingles(
        docs.filter(F.expr(_BENCH_SPARK)).select("doc_id", F.expr(W_SPARK).alias("ws"))
    ).select("s").distinct()
    base = docs.filter(~F.expr(_BENCH_SPARK)).select("doc_id", "text")
    hi = base.agg(F.max("doc_id")).first()[0] + 1
    # batch 2 (arriving after the restart) re-emits 5 early docs verbatim —
    # chosen from quality-PASSING docs so their copies must be flagged
    # exact_dup regardless of how a regenerated fixture distributes junk
    from hdfs2cass_spark.streaming.curate import _quality

    dupes = (
        _quality(base)
        .orderBy("doc_id")
        .limit(5)
        .select((F.col("doc_id") + hi).alias("doc_id"), "text")
    )
    n = hi
    flat = tmp_path / "cr_flat"
    flat.mkdir()

    def seed(i, df):
        part = tmp_path / f"cr_p{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    seed(0, base.filter(F.col("doc_id") < n / 2))
    seed(1, base.filter(F.col("doc_id") >= n / 2))
    idx, out, ck = (str(tmp_path / p) for p in ("cr_idx", "cr_out", "cr_ck"))
    q = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck, available_now=True
    )
    q.awaitTermination(180)
    first = read_curated(spark, out).count()

    seed(2, dupes)
    q2 = stream_curate(
        stream_documents(spark, str(flat)), bench, idx, out, ck, available_now=True
    )
    q2.awaitTermination(180)

    got = sorted(tuple(r) for r in read_curated(spark, out).collect())
    want = sorted(
        tuple(r)
        for r in curate_decisions_batch(base.unionByName(dupes), bench).collect()
    )
    assert got == want  # nothing double-processed, nothing skipped
    assert first < len(got)
    # the post-restart duplicates were caught against the PRE-restart index
    dup_ids = {r[0] for r in want if r[0] >= hi}
    dec = {r[0]: r for r in got}
    assert dup_ids and all(dec[i][2] for i in dup_ids)  # exact_dup=True


def test_stream_bulk_load(spark, events_dir, tmp_path):
    """The reference dataflow fed by a stream: per-micro-batch token-sorted
    bucket files; total rows equal the batch source."""
    import glob

    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_bulk_load, stream_events

    stream = stream_events(spark, events_dir)
    q = stream_bulk_load(
        stream,
        "cql://h/ks/events?reducers=4",
        sink_path=str(tmp_path / "sink"),
        checkpoint=str(tmp_path / "ckpt"),
        rowkey="event_id",
        now_ms=42,
        available_now=True,
    )
    q.awaitTermination(120)
    total = 0
    for d in sorted(glob.glob(str(tmp_path / "sink" / "bucket=*"))):
        for f in glob.glob(d + "/*.parquet"):
            toks = pq.read_table(f).column("token").to_pylist()
            assert toks == sorted(toks)  # per-file (per-batch) append order
            total += len(toks)
    src = spark.read.parquet(f"{events_dir}/events.parquet")
    assert total == src.count()


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed aggregation with a 1h watermark: an event arriving
    two micro-batches after the stream's clock passed it is dropped; windows
    newer than the final watermark stay open (not emitted).

    Note the deliberate batch structure: Spark applies the watermark computed
    from batch N-1 when filtering batch N, so the late event must arrive at
    least two batches after the clock advanced — arriving in the very next
    batch it would still be accepted (observed, and part of the contract)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming.ingest import stream_events

    src = tmp_path / "late_src"
    src.mkdir()

    def write_batch(name, rows):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(t, src / name)

    H = 3600 * 10**9
    base = 1704067200 * 10**9  # 2024-01-01T00:00Z
    write_batch("0.parquet", [(1, base + 10 * H), (2, base + 10 * H + 60 * 10**9)])
    _time.sleep(1.1)  # file source orders micro-batches by modification time
    write_batch("1.parquet", [(3, base + 13 * H)])  # advances watermark to 12:00
    _time.sleep(1.1)
    write_batch("2.parquet", [(4, base + 3 * H), (5, base + 14 * H)])  # 3h: 9h late

    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.ts import epoch_millis

    events = stream_events(spark, str(src))
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(epoch_millis(F.col("w.start")).alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["ws"]: r["n"] for r in spark.sql("SELECT * FROM late_test").collect()}
    base_ms, h_ms = 1704067200 * 1000, 3600 * 1000
    assert got.get(base_ms + 10 * h_ms) == 2  # finalized on-time window
    assert (base_ms + 3 * h_ms) not in got  # 9h-late event dropped by watermark
    assert (base_ms + 13 * h_ms) not in got  # newer than final watermark: still open
    assert (base_ms + 14 * h_ms) not in got


def test_streaming_dedup_first_equals_batch(spark, sf_dir, events_dir):
    """applyInPandasWithState keep-first dedup == the batch keep-first twin
    (row_number over (ts, event_id) per key) on the same data."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hdfs2cass_spark.functions.ts import epoch_millis
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_events, streaming_dedup_first

    stream = stream_events(spark, events_dir)
    got = _run_stream_append(spark, streaming_dedup_first(stream), "dedup_first_test")

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    batch = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            epoch_millis("ts").alias("ts_ms"),
            "value",
        )
    )
    g = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert len(g) > 0
    assert g == b


def _run_stream_append(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_dedup_state_spans_micro_batches(spark, tmp_path):
    """A duplicate key arriving in a LATER micro-batch is dropped by the
    per-key state — the property a stateless distinct-per-batch would miss."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_events, streaming_dedup_first

    src = tmp_path / "dedup_src"
    src.mkdir()

    def write_batch(name, rows):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(t, src / name)

    S = 10**9
    base = 1704067200 * S
    # batch 0: two keys; batch 1: a duplicate of (7, click) plus a new key
    write_batch("0.parquet", [(1, base, 7, "click"), (2, base + S, 8, "view")])
    _time.sleep(1.1)  # file source orders micro-batches by modification time
    write_batch("1.parquet", [(3, base + 2 * S, 7, "click"), (4, base + 3 * S, 9, "click")])

    stream = stream_events(spark, str(src))
    got = _run_stream_append(spark, streaming_dedup_first(stream), "dedup_span_test")
    rows = {(r["user_id"], r["event_type"]): r["event_id"] for r in got.collect()}
    assert rows == {(7, "click"): 1, (8, "view"): 2, (9, "click"): 4}


@pytest.mark.parametrize(
    "uri, key",
    [
        ("cql://h/ks/events?reducers=4", "_rowkey"),
        ("thrift://h/ks/events?reducers=4", "key"),
        ("cql://h/ks/events?reducers=4&columnnames=event_id,user_id,value", "_rowkey"),
    ],
    ids=["cql", "thrift", "cql-columnnames"],
)
def test_stream_bulk_load_routes_on_typed_key(spark, events_dir, tmp_path, uri, key):
    """Streaming bulk load must tokenize the TYPED key bytes exactly like the
    batch pipeline and honor every output-URI option — the streamed sink's
    columns and per-bucket contents equal the batch bulk_load of the same
    data, for the CQL and thrift shapes and a columnnames= projection."""
    import glob

    import pyarrow.parquet as pq

    from hdfs2cass_spark.sinks.pipeline import bulk_load
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_bulk_load, stream_events

    stream = stream_events(spark, events_dir)
    q = stream_bulk_load(
        stream,
        uri,
        sink_path=str(tmp_path / "ssink"),
        checkpoint=str(tmp_path / "sckpt"),
        rowkey="event_id",
        now_ms=42,
        available_now=True,
    )
    q.awaitTermination(120)

    batch = load_table(spark, str(events_dir), "events")
    routed = bulk_load(batch, uri, rowkey="event_id", now_ms=42)
    want = {
        (r["bucket"], r["token"], r[key]) for r in routed.select("bucket", "token", key).collect()
    }
    got = set()
    for d in glob.glob(str(tmp_path / "ssink" / "bucket=*")):
        b = int(d.rsplit("=", 1)[1])
        t = pq.read_table(d)
        assert t.column_names == [c for c in routed.columns if c != "bucket"], d
        for tok, rk in zip(t.column("token").to_pylist(), t.column(key).to_pylist()):
            got.add((b, tok, rk))
    assert got == want


def test_stream_bulk_load_checkpoint_resume(spark, tmp_path):
    """Exactly-once resumption: after a run drains files 1-2, a restart with
    the SAME checkpoint processes ONLY a newly arrived file — no reprocessing
    (no duplicate rows), no loss."""
    import glob
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_bulk_load, stream_events

    src = tmp_path / "resume_src"
    src.mkdir()
    S = 10**9
    base = 1704067200 * S

    def write_file(name, ids):
        t = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array([base + i * S for i in ids], pa.timestamp("ns")),
                "user_id": pa.array([1] * len(ids), pa.int64()),
                "event_type": pa.array(["click"] * len(ids), pa.string()),
                "value": pa.array([1.0] * len(ids), pa.float64()),
                "props": pa.array(["{}"] * len(ids), pa.string()),
            }
        )
        pq.write_table(t, src / name)

    sink = str(tmp_path / "rsink")
    ckpt = str(tmp_path / "rckpt")

    def run_once():
        q = stream_bulk_load(
            stream_events(spark, str(src)),
            "cql://h/ks/events?reducers=2",
            sink_path=sink,
            checkpoint=ckpt,
            rowkey="event_id",
            now_ms=42,
            available_now=True,
        )
        q.awaitTermination(120)

    def sink_ids():
        ids = []
        for d in glob.glob(f"{sink}/bucket=*"):
            ids.extend(pq.read_table(d).column("_rowkey").to_pylist())
        return sorted(int(x) for x in ids)

    write_file("a.parquet", [1, 2, 3])
    _time.sleep(1.1)
    write_file("b.parquet", [4, 5])
    run_once()
    assert sink_ids() == [1, 2, 3, 4, 5]

    write_file("c.parquet", [6, 7])
    run_once()  # resumes from the checkpoint: only c.parquet is new
    assert sink_ids() == [1, 2, 3, 4, 5, 6, 7]  # no dups of 1-5, nothing lost


def test_streaming_running_totals_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 arbitrary-state API, RocksDB):
    cumulative per-user totals maintained across micro-batches — the LAST
    update per user equals the batch aggregate of all data. Skips when the
    protobuf Python package is absent (the API's runner requires it; pip
    pyspark does not bundle it), after asserting the loud gate fires."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.stateful import streaming_running_totals

    src = tmp_path / "totals_src"
    src.mkdir()
    S = 10**9
    base = 1704067200 * S

    def write_file(name, rows):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([base + r[0] * S for r in rows], pa.timestamp("ns")),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * len(rows), pa.string()),
                "value": pa.array([r[2] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(t, src / name)

    write_file("0.parquet", [(1, 7, 1.5), (2, 7, 2.25), (3, 8, 10.0)])
    _time.sleep(1.1)
    write_file("1.parquet", [(4, 7, 0.25), (5, 9, -3.5)])

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="protobuf"):
            streaming_running_totals(stream_events(spark, str(src)))
        pytest.skip("protobuf not installed; transformWithState runner unavailable")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_events(spark, str(src))
        q = (
            streaming_running_totals(stream)
            .writeStream.format("memory")
            .queryName("running_totals_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    rows = spark.sql("SELECT * FROM running_totals_test").collect()
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final == {7: (3, 4.0), 8: (1, 10.0), 9: (1, -3.5)}


def test_stream_funnel_equals_batch(spark, sf_dir, events_dir):
    """The incrementally maintained funnel state == the batch ordered-funnel
    per-user timestamps, and the folded report == the oracle-row-69 query's
    rows, on the same events."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.ts import epoch_micros
    from hdfs2cass_spark.plans.eventfunnel import (
        FUNNEL_STEPS,
        event_funnel_conversion,
        funnel_user_steps,
    )
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        funnel_report_from_states,
        funnel_states,
        stream_funnel,
    )

    got = _run_stream_update(
        spark, stream_funnel(stream_events(spark, events_dir)), "funnel_eq_test"
    )
    states = funnel_states(got)

    e = load_table(spark, sf_dir, "events")
    s1, s2, s3 = funnel_user_steps(e, FUNNEL_STEPS)
    want_df = (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            epoch_micros("t1").alias("t1_us"),
            epoch_micros("t2").alias("t2_us"),
            epoch_micros("t3").alias("t3_us"),
        )
    )
    g = sorted(tuple(r) for r in states.collect())
    w = sorted(tuple(r) for r in want_df.collect())
    assert len(g) > 0 and g == w

    rep = sorted(tuple(r) for r in funnel_report_from_states(states).collect())
    batch_rep = sorted(
        tuple(r) for r in event_funnel_conversion(spark, sf_dir).collect()
    )
    assert rep == batch_rep
    # the funnel does real work on the fixture: some users convert fully
    assert states.filter("t3_us IS NOT NULL").count() > 0


def test_stream_funnel_state_spans_batches_and_stays_greedy(spark, tmp_path):
    """Cross-batch ordered transitions: a click in a LATER batch qualifies
    against the view's stored timestamp; a late-arriving click that
    time-sorts before the recorded one does NOT retroactively replace it
    (the documented greedy boundary), but a late event CAN fill an unset
    step."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import funnel_states, stream_funnel

    src = tmp_path / "funnel_src"
    src.mkdir()
    S = 10**9

    def write_batch(name, rows):  # (event_id, ts_ns, user_id, type)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows], pa.string()),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows), pa.string()),
                }
            ),
            src / name,
        )

    base = 1704067200 * S
    # user 1: view in batch 0; clicks/purchase later. user 2: click BEFORE
    # any view (must not count), view in batch 1, click after in batch 2.
    write_batch("0.parquet", [(1, base + 10 * S, 1, "view"), (2, base + 5 * S, 2, "click")])
    _time.sleep(1.1)
    write_batch(
        "1.parquet",
        [(3, base + 100 * S, 1, "click"), (4, base + 50 * S, 2, "view")],
    )
    _time.sleep(1.1)
    # batch 2: user 1 gets a LATE click (ts 50 < recorded 100 — ignored,
    # greedy) and a purchase after the recorded click; user 2 a click
    write_batch(
        "2.parquet",
        [
            (5, base + 50 * S, 1, "click"),
            (6, base + 200 * S, 1, "purchase"),
            (7, base + 60 * S, 2, "click"),
        ],
    )

    got = _run_stream_update(
        spark, stream_funnel(stream_events(spark, str(src))), "funnel_greedy_test"
    )
    final = {r["user_id"]: r for r in funnel_states(got).collect()}
    us = 10**6
    b = 1704067200 * us
    # user 1: t2 stays at the FIRST-ARRIVING qualifying click (100s), the
    # late 50s click is ignored; purchase at 200s qualifies (> 100s)
    assert (final[1]["t1_us"], final[1]["t2_us"], final[1]["t3_us"]) == (
        b + 10 * us, b + 100 * us, b + 200 * us,
    )
    # user 2: pre-view click never counted; late-batch click fills t2
    assert (final[2]["t1_us"], final[2]["t2_us"], final[2]["t3_us"]) == (
        b + 50 * us, b + 60 * us, None,
    )


def test_stream_cohorts_equals_batch(spark, sf_dir, events_dir):
    """The streamed (user, cohort, active-week) emission log reproduces the
    batch cohort_retention report (oracle row 70) exactly."""
    from hdfs2cass_spark.plans.eventfunnel import cohort_retention
    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        cohort_report_from_weeks,
        stream_cohorts,
    )

    got = _run_stream_append(
        spark, stream_cohorts(stream_events(spark, events_dir)), "cohort_eq_test"
    )
    # append semantics: the emission log must already be distinct
    assert got.count() == got.distinct().count()
    rep = sorted(tuple(r) for r in cohort_report_from_weeks(got).collect())
    want = sorted(tuple(r) for r in cohort_retention(spark, sf_dir).collect())
    assert len(rep) > 0 and rep == want


def test_stream_session_paths_equals_batch(spark, sf_dir, events_dir):
    """The streamed (user, session-start, path) update log folds through the
    SHARED census into rows identical to the batch session_top_paths report
    (oracle row 77) on in-order arrival."""
    from hdfs2cass_spark.plans.registry import CATALOG
    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        session_paths_from_log,
        stream_session_paths,
    )

    got = _run_stream_update(
        spark, stream_session_paths(stream_events(spark, events_dir)), "paths_eq_test"
    )
    rep = sorted(tuple(r) for r in session_paths_from_log(got).collect())
    want = sorted(
        tuple(r) for r in CATALOG["session_top_paths"].fn(spark, sf_dir).collect()
    )
    assert len(rep) > 0 and rep == want


def test_stream_session_paths_greedy_cross_batch_boundary(spark, tmp_path):
    """Cross-batch session continuation + the documented greedy boundary: a
    LATE event (ts before the state's last seen) extends the CURRENT
    session — it cannot retroactively split or reorder — while in-order
    cross-batch events continue and close sessions exactly like batch."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        session_paths_from_log,
        stream_session_paths,
    )

    src = tmp_path / "paths_src"
    src.mkdir()
    S = 10**9

    def write_batch(name, rows):  # (event_id, ts_ns, user_id, type)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows], pa.string()),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows), pa.string()),
                }
            ),
            src / name,
        )

    base = 1704067200 * S
    # batch 0: view at 10s, then a >30-min gap to click at 4200s — closes
    # session 1 ("view"), opens session 2
    write_batch("0.parquet", [(1, base + 10 * S, 1, "view"), (2, base + 4200 * S, 1, "click")])
    _time.sleep(1.1)
    # batch 1: a LATE scroll at 20s (before the state's last=4200) extends
    # the CURRENT session greedily (batch would have put it in session 1);
    # an in-order purchase at 4300s continues the same session
    write_batch(
        "1.parquet",
        [(3, base + 20 * S, 1, "scroll"), (4, base + 4300 * S, 1, "purchase")],
    )
    _time.sleep(1.1)
    # batch 2: 7000s is >30 min past 4300 — a new session opens cross-batch
    write_batch("2.parquet", [(5, base + 7000 * S, 1, "view")])

    got = _run_stream_update(
        spark, stream_session_paths(stream_events(spark, str(src))), "paths_greedy_test"
    )
    rep = {r["path"]: r for r in session_paths_from_log(got).collect()}
    assert rep["view"]["n_sessions"] == 2  # session 1 + the batch-2 session
    assert rep["click>scroll>purchase"]["n_sessions"] == 1  # the greedy path
    assert rep["view"]["rnk"] == 1


def test_stream_rfm_equals_batch(spark, sf_dir, events_dir):
    """The streamed per-user RFM state log folds through the SHARED
    quintile/segment computation into rows identical to the batch
    rfm_user_segments (oracle row 82) — the quantized int64 value sums
    make the monetary metric bit-identical across surfaces."""
    from hdfs2cass_spark.plans.registry import CATALOG
    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import rfm_report_from_log, stream_rfm

    got = _run_stream_update(
        spark, stream_rfm(stream_events(spark, events_dir)), "rfm_eq_test"
    )
    rep = sorted(tuple(r) for r in rfm_report_from_log(got).collect())
    want = sorted(
        tuple(r) for r in CATALOG["rfm_user_segments"].fn(spark, sf_dir).collect()
    )
    assert len(rep) > 0 and rep == want


def test_stream_transitions_equals_batch(spark, sf_dir, events_dir):
    """The streamed per-batch transition counts sum into rows identical to
    the batch event_transition_matrix (oracle row 72) on in-order arrival —
    the SHARED row-normalizing fold guarantees P(next|prev) can't drift."""
    from hdfs2cass_spark.plans.registry import CATALOG
    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        stream_transitions,
        transition_report_from_log,
    )

    got = _run_stream_update(
        spark, stream_transitions(stream_events(spark, events_dir)), "trans_eq_test"
    )
    rep = sorted(tuple(r) for r in transition_report_from_log(got).collect())
    want = sorted(
        tuple(r) for r in CATALOG["event_transition_matrix"].fn(spark, sf_dir).collect()
    )
    assert len(rep) > 0 and rep == want


def test_stream_transitions_greedy_cross_batch(spark, tmp_path):
    """Cross-batch pairing + the greedy boundary: an event in a later batch
    pairs with the state's last event; a LATE event pairs with whatever the
    state last saw (it cannot re-pair earlier transitions)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        stream_transitions,
        transition_report_from_log,
    )

    src = tmp_path / "trans_src"
    src.mkdir()
    S = 10**9

    def write_batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows], pa.string()),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows), pa.string()),
                }
            ),
            src / name,
        )

    base = 1704067200 * S
    write_batch("0.parquet", [(1, base + 10 * S, 1, "view"), (2, base + 20 * S, 1, "click")])
    _time.sleep(1.1)
    # batch 1: a LATE scroll at 15s pairs with the state's last (click),
    # NOT between view and click (greedy); then purchase pairs with scroll
    write_batch("1.parquet", [(3, base + 15 * S, 1, "scroll"), (4, base + 30 * S, 1, "purchase")])

    got = _run_stream_update(
        spark, stream_transitions(stream_events(spark, str(src))), "trans_greedy_test"
    )
    rep = {(r["prev_type"], r["next_type"]): r["n"] for r in transition_report_from_log(got).collect()}
    assert rep == {
        ("view", "click"): 1,
        ("click", "scroll"): 1,  # greedy: late scroll pairs with click
        ("scroll", "purchase"): 1,
    }


def test_cohort_report_heals_eviction_split_cohorts(spark):
    """A retention-evicted user who returns is re-assigned a NEW cohort_day
    by stream_cohorts (its state — including the old cohort — is gone), so
    the raw emission log can carry one user's weeks under TWO cohorts and a
    re-emitted duplicate week. cohort_report_from_weeks must count that
    user ONCE, under the EARLIEST cohort, with weeks deduplicated — the
    batch cohort_retention definition (round-7 advice item 4)."""
    from hdfs2cass_spark.streaming.funnel import cohort_report_from_weeks

    # Mondays as unix dates: 19723 = 2024-01-01
    m0 = 19723
    rows = [
        # user 1, first journey: cohort m0, active weeks m0 and m0+7
        (1, m0, m0),
        (1, m0, m0 + 7),
        # user 1 evicted, returns 10 weeks later: NEW cohort m0+70, and the
        # return week emitted under it; plus a re-emission of week m0+7
        # (its dedup state was evicted too)
        (1, m0 + 70, m0 + 70),
        (1, m0 + 70, m0 + 7),
        # user 2: a clean single-journey cohort-m0 user active in week m0
        (2, m0, m0),
    ]
    pairs = spark.createDataFrame(rows, "user_id long, cohort_day int, week_day int")
    rep = {
        (str(r["cohort_week"]), r["week_offset"]): (r["n_active"], r["cohort_size"])
        for r in cohort_report_from_weeks(pairs).collect()
    }
    # ONE cohort (2024-01-01) — user 1's second journey folded into it
    assert {k[0] for k in rep} == {"2024-01-01"}
    # offset 0: both users; cohort_size 2 everywhere
    assert rep[("2024-01-01", 0)] == (2, 2)
    # offset 1: user 1 only, counted ONCE despite the duplicate emission
    assert rep[("2024-01-01", 1)] == (1, 2)
    # offset 10: user 1's return week, under the original cohort
    assert rep[("2024-01-01", 10)] == (1, 2)


def _run_stream_update(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_embed_near_dup_equals_batch(spark, sf_dir, tmp_path):
    """Streaming EMBEDDING-space near-dup decisions against the accumulating
    code+vector indexes must equal the batch twin exactly when files arrive
    in doc_id order — across bucketed compactions, with every index scan
    pruned to the arriving batch's buckets."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import stream_documents
    from hdfs2cass_spark.streaming.embdup import (
        embed_near_dup_decisions_batch,
        stream_embed_near_dup,
    )
    from hdfs2cass_spark.streaming.index import n_subdirs
    from hdfs2cass_spark.streaming.neardup import read_decisions

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # seed exact text copies (cosine 1.0 under any featurizer) so the dup
    # path provably fires in BOTH the stream and the twin
    hi = base.agg(F.max("doc_id")).first()[0] + 1
    dupes = (
        base.filter(F.col("text").isNotNull())
        .orderBy("doc_id")
        .limit(8)
        .select((F.col("doc_id") + hi).alias("doc_id"), "text")
    )
    train = base.unionByName(dupes)
    n = train.agg(F.max("doc_id")).first()[0] + 1

    flat = tmp_path / "ed_flat"
    flat.mkdir()
    for i in range(3):  # doc_id RANGES: batch order == doc_id order
        part = tmp_path / f"ed_p{i}"
        train.filter(
            (F.col("doc_id") >= i * n / 3) & (F.col("doc_id") < (i + 1) * n / 3)
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("ed_idx", "ed_out", "ed_ck"))
    q = stream_embed_near_dup(
        stream_documents(spark, str(flat)), idx, out, ck,
        available_now=True, compact_every=2,
    )
    q.awaitTermination(300)

    got = sorted(tuple(r) for r in read_decisions(spark, out).collect())
    want_df = embed_near_dup_decisions_batch(train)
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
    # the dup path fired: every seeded copy is flagged against an earlier doc
    dec = {r[0]: r for r in got}
    seeded = [r[0] for r in want if r[0] >= hi]
    assert len(seeded) == 8 and all(dec[i][1] for i in seeded)
    # compaction bounded the index dirs (last fold at batch 2; batch 2 raw)
    for sub in ("emb", "codes"):
        assert n_subdirs(spark, f"{idx}/{sub}") == 2, sub


def test_stream_funnel_state_correct_across_arrow_chunks(spark, tmp_path):
    """The group iterator yields one pandas frame PER ARROW CHUNK, not per
    micro-batch: with maxRecordsPerBatch forced to 2, a user whose earliest
    view lands in a LATER chunk must still get the batch-minimum t1 (and
    the cohort week from the minimum ts) — the chunk-local walk bug the
    round-7 self-review found."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        funnel_states,
        stream_cohorts,
        stream_funnel,
    )

    src = tmp_path / "chunk_src"
    src.mkdir()
    S = 10**9
    base = 1704067200 * S  # Monday 2024-01-01
    week = 7 * 24 * 3600 * S
    # ONE user, ONE file: 6 events written in REVERSE time order, so with
    # 2-row arrow chunks the earliest view (t=10s) arrives in the LAST
    # chunk; in-time-order the journey is view@10 -> click@20 -> buy@30.
    # The first event is also a week later than the earliest one, so a
    # chunk-local cohort pick lands in the wrong week.
    rows = [
        (1, base + week + 50 * S, "view"),
        (2, base + week + 40 * S, "click"),
        (3, base + 30 * S, "purchase"),
        (4, base + 20 * S, "click"),
        (5, base + 15 * S, "view"),
        (6, base + 10 * S, "view"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                "user_id": pa.array([7] * len(rows), pa.int64()),
                "event_type": pa.array([r[2] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        src / "0.parquet",
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = _run_stream_update(
            spark, stream_funnel(stream_events(spark, str(src))), "chunk_funnel_test"
        )
        st = funnel_states(got).collect()[0]
        us = 10**6
        b = 1704067200 * us
        assert (st["t1_us"], st["t2_us"], st["t3_us"]) == (
            b + 10 * us, b + 20 * us, b + 30 * us,
        )

        pairs = _run_stream_append(
            spark, stream_cohorts(stream_events(spark, str(src))), "chunk_cohort_test"
        ).collect()
        # cohort = the Monday of the MINIMUM-ts week (2024-01-01), even
        # though the file's first row is a week later
        assert all(r["cohort_day"] == 19723 for r in pairs)  # 2024-01-01
        assert sorted(r["week_day"] for r in pairs) == [19723, 19730]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_stream_active_days_equals_batch_engagement(spark, sf_dir, events_dir):
    """The streamed (user, day) activity log folded through the SHARED
    engagement computation reproduces the batch oracle-row-78 report
    exactly, and the append-mode log is distinct by construction."""
    from hdfs2cass_spark.plans.sessions import engagement_dau_wau
    from hdfs2cass_spark.streaming import stream_events
    from hdfs2cass_spark.streaming.funnel import (
        engagement_report_from_days,
        stream_active_days,
    )

    got = _run_stream_append(
        spark, stream_active_days(stream_events(spark, events_dir)), "days_eq_test"
    )
    assert got.count() == got.distinct().count()
    rep = sorted(tuple(r) for r in engagement_report_from_days(got).collect())
    want = sorted(tuple(r) for r in engagement_dau_wau(spark, sf_dir).collect())
    assert len(rep) > 0 and rep == want


@pytest.mark.slow
def test_stateful_keys_seen_only_in_batch_zero_survive(spark, tmp_path):
    """The batch-0 watermark is 0; a timeout anchored to it lands in 1970
    and the key is evicted at the next trigger. Regression: a user whose
    view arrives ONLY in batch 0 must still convert on a batch-2 click,
    and a batch-0 dedup key must still drop its batch-2 duplicate."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs2cass_spark.streaming import stream_events, streaming_dedup_first
    from hdfs2cass_spark.streaming.funnel import funnel_states, stream_funnel

    src = tmp_path / "b0_src"
    src.mkdir()
    S = 10**9
    base = 1704067200 * S

    def write_batch(name, rows):  # (event_id, ts_ns, user_id, type)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows], pa.string()),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows), pa.string()),
                }
            ),
            src / name,
        )

    # batch 0: user 1's view AND a duplicate-key probe (user 9, click)
    write_batch("0.parquet", [(1, base, 1, "view"), (2, base + S, 9, "click")])
    _time.sleep(1.1)
    # batch 1: only OTHER users — advances the watermark past 1970
    write_batch("1.parquet", [(3, base + 3600 * S, 5, "view")])
    _time.sleep(1.1)
    # batch 2: user 1 clicks; user 9 repeats the dedup key
    write_batch(
        "2.parquet",
        [(4, base + 7200 * S, 1, "click"), (5, base + 7200 * S, 9, "click")],
    )

    got = _run_stream_update(
        spark, stream_funnel(stream_events(spark, str(src))), "b0_funnel_test"
    )
    st = {r["user_id"]: r for r in funnel_states(got).collect()}
    assert st[1]["t2_us"] is not None  # state survived batches 1-2

    dd = _run_stream_append(
        spark, streaming_dedup_first(stream_events(spark, str(src))), "b0_dedup_test"
    )
    nine = dd.filter("user_id = 9 AND event_type = 'click'").collect()
    assert len(nine) == 1 and nine[0]["event_id"] == 2  # duplicate dropped


def test_stream_rag_index_equals_batch_any_order(spark, sf_dir, tmp_path):
    """The streaming RAG index (chunk -> embed on ingest, retrieval and MMR
    as read-time reports) must equal the batch twin EXACTLY — and because
    retrieval is a pure function of the accumulated document SET, the
    equality must hold for OUT-OF-ORDER arrival (stronger than the
    in-order contract of the funnel/neardup twins): batches arrive middle,
    tail, then head (the query docs arrive LAST), across a bucketed
    compaction."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.operators.rerank import mmr_rerank
    from hdfs2cass_spark.plans.rag import rag_retrieve_df
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import (
        rag_report_from_index,
        stream_documents,
        stream_rag_index,
    )
    from hdfs2cass_spark.streaming.index import n_subdirs

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = base.agg(F.max("doc_id")).first()[0] + 1
    flat = tmp_path / "rag_flat"
    flat.mkdir()
    ranges = [(n // 3, 2 * n // 3), (2 * n // 3, n + 1), (0, n // 3)]
    for i, (lo, hi) in enumerate(ranges):
        part = tmp_path / f"rag_p{i}"
        base.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("overwrite").parquet(str(part))
        shutil.copy(
            sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet"
        )

    idx, ck = (str(tmp_path / p) for p in ("rag_idx", "rag_ck"))
    q = stream_rag_index(
        stream_documents(spark, str(flat)), idx, ck,
        available_now=True, compact_every=2,
    )
    q.awaitTermination(300)

    got = [tuple(r) for r in rag_report_from_index(spark, idx).collect()]
    want = [tuple(r) for r in rag_retrieve_df(base).collect()]
    assert got == want and len(got) > 0
    got_m = [tuple(r) for r in rag_report_from_index(spark, idx, mmr=True).collect()]
    want_m = [
        tuple(r)
        for r in mmr_rerank(rag_retrieve_df(base, k=10, keep_vectors=True), k=5).collect()
    ]
    assert got_m == want_m and len(got_m) > 0
    # the ANN retrieval tail over the SAME accumulated index equals the
    # batch ANN twin (r9 verdict: the streaming report's non-MMR path must
    # be routable through the production candidate path, not just the
    # exact scan)
    from hdfs2cass_spark.plans.rag import (
        chunk_embeddings,
        query_embeddings,
        retrieve_topk_ann,
    )

    got_a = [tuple(r) for r in rag_report_from_index(spark, idx, ann=True).collect()]
    want_a = [
        tuple(r)
        for r in retrieve_topk_ann(
            chunk_embeddings(base), query_embeddings(base), n_planes=8, radius=3
        ).collect()
    ]
    assert got_a == want_a and len(got_a) > 0
    # compaction bounded the index dirs (fold at batch 2 + batch 2's append)
    assert n_subdirs(spark, f"{idx}/chunks") == 2


@pytest.mark.slow
def test_stream_rag_index_reingest_keeps_first(spark, sf_dir, tmp_path):
    """A doc_id genuinely RE-INGESTED in a later batch (same id, modified
    text — not a checkpoint replay) must not enroll twice: the chunk index
    would become a multiset, duplicate (doc_id, chunk_id) vectors would
    corrupt top-k, and the 'pure function of the accumulated document SET'
    stream==batch contract would silently break (r9 advisory). Keep-first
    enrollment drops the re-arrival, so the report equals the batch twin on
    the FIRST-arrived versions and the index holds no duplicate keys."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.plans.rag import rag_retrieve_df
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import (
        rag_report_from_index,
        stream_documents,
        stream_rag_index,
    )
    from hdfs2cass_spark.streaming.index import read_index

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    base = base.cache()
    n = base.count()
    flat = tmp_path / "rr_flat"
    flat.mkdir()
    # batch 0: first half (includes the query docs, doc_id < 3)
    base.filter(F.col("doc_id") < n // 2).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "rr_p0")
    )
    # batch 1: second half PLUS re-ingested first-half docs with DIFFERENT
    # text (and one query doc) — all of these re-arrivals must be ignored
    reingest = base.filter(F.col("doc_id") < n // 4).withColumn(
        "text", F.concat(F.lit("REINGESTED CHANGED PAYLOAD "), F.col("text"))
    )
    base.filter(F.col("doc_id") >= n // 2).unionByName(reingest).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "rr_p1"))
    import glob
    import shutil
    import time as _time

    for i in (0, 1):
        shutil.copy(
            sorted(glob.glob(str(tmp_path / f"rr_p{i}" / "*.parquet")))[0],
            flat / f"{i}.parquet",
        )
        # distinct mtimes: the file source orders micro-batches by mod time,
        # and "first-arrived" is only defined if batch 0 truly precedes 1
        _time.sleep(1.1)

    idx, ck = (str(tmp_path / p) for p in ("rr_idx", "rr_ck"))
    q = stream_rag_index(
        stream_documents(spark, str(flat)), idx, ck, available_now=True
    )
    q.awaitTermination(300)

    chunks = read_index(spark, f"{idx}/chunks")
    dup_keys = (
        chunks.groupBy("doc_id", "chunk_id").count().filter("count > 1").count()
    )
    assert dup_keys == 0  # no multiset: re-arrival enrolled nothing
    qemb_dups = (
        read_index(spark, f"{idx}/qemb").groupBy("q_id").count().filter("count > 1").count()
    )
    assert qemb_dups == 0
    got = [tuple(r) for r in rag_report_from_index(spark, idx).collect()]
    want = [tuple(r) for r in rag_retrieve_df(base).collect()]  # first versions
    assert got == want and len(got) > 0
    base.unpersist()


def test_stream_scrub_equals_batch(spark, sf_dir, tmp_path):
    """Streaming keep-first-occurrence substring scrub against the
    accumulating min-doc gram index must equal the batch
    exact_substring_scrub exactly when files arrive in doc_id order —
    across a bucketed min-folded compaction, with planted cross-batch
    copies provably losing their text."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.plans import CATALOG
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import (
        read_scrubbed,
        stream_documents,
        stream_scrub,
    )
    from hdfs2cass_spark.streaming.index import n_subdirs

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = base.agg(F.max("doc_id")).first()[0] + 1
    extra = (
        base.filter(F.col("text").isNotNull())
        .orderBy("doc_id")
        .limit(6)
        .select((F.col("doc_id") + hi).alias("doc_id"), "text")
    )
    train = base.unionByName(extra)
    n = train.agg(F.max("doc_id")).first()[0] + 1

    flat = tmp_path / "sc_flat"
    flat.mkdir()
    for i in range(3):  # doc_id RANGES: batch order == doc_id order
        part = tmp_path / f"sc_p{i}"
        train.filter(
            (F.col("doc_id") >= i * n / 3) & (F.col("doc_id") < (i + 1) * n / 3)
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("sc_idx", "sc_out", "sc_ck"))
    q = stream_scrub(
        stream_documents(spark, str(flat)), idx, out, ck,
        available_now=True, compact_every=2,
    )
    q.awaitTermination(300)

    got = [tuple(r) for r in read_scrubbed(spark, out).collect()]
    bt = str(tmp_path / "sc_bt")
    train.write.mode("overwrite").parquet(f"{bt}/documents.parquet")
    want = [tuple(r) for r in CATALOG["exact_substring_scrub"].fn(spark, bt).collect()]
    assert got == want and len(got) > 0
    # every planted late copy lost words (its text was first held earlier)
    by_id = {g[0]: g for g in got}
    late_copies = [r["doc_id"] for r in extra.collect()]
    assert all(by_id[i][2] > 0 for i in late_copies)
    # compaction bounded the gram index dirs (fold at batch 2 + its append)
    assert n_subdirs(spark, f"{idx}/grams") == 2


@pytest.mark.slow
def test_stream_scrub_retention_ages_out_old_grams(spark, tmp_path):
    """The retain_docs horizon (r9 verdict item 5): grams whose first-holder
    fell more than retain_docs doc_ids behind the newest arriving doc age
    out of the index — and scrubbing stays batch-equal ON THE RETAINED SET:
    a re-occurrence AFTER the horizon keeps its text (it becomes the new
    first holder), while a dup within the horizon still scrubs against the
    retained holder. Planted timeline (dup = the same 8-word phrase):
      doc 0 (batch 0): original       -> kept (first ever)
      doc 10 (batch 1): dup, delta 10 <= horizon 50  -> scrubbed vs doc 0
      doc 100 (batch 2): dup, delta 100 > horizon    -> KEPT (aged out;
        doc 100 is the new first holder)
      doc 120 (batch 3): dup, delta 20 from doc 100  -> scrubbed vs doc 100
      doc 130 (batch 4): unrelated text -> its arrival triggers the
        compaction that PHYSICALLY drops the aged-out doc-0/doc-10 gram
        rows (the batch-2 compaction ran before anything was old — until
        batch 4 the old rows linger on disk and are read-time filtered,
        which is exactly the two-surface contract).
    Without retention (retain_docs=None) doc 100 and 120 would both scrub
    — asserted as the control."""
    import glob
    import shutil

    from hdfs2cass_spark.streaming import (
        read_scrubbed,
        stream_documents,
        stream_scrub,
    )
    from hdfs2cass_spark.streaming.index import read_index

    phrase = " ".join(f"p{i}" for i in range(8))  # exactly one SUBSTR_K window
    def fill(tag):
        return " ".join(f"{tag}{i}" for i in range(8))

    docs = [
        (0, f"{phrase} {fill('a')}"),
        (10, f"{fill('b')} {phrase}"),
        (100, f"{phrase} {fill('c')}"),
        (120, f"{fill('d')} {phrase}"),
        (130, f"{fill('e')} {fill('f')}"),
    ]

    def run(retain, sub):
        flat = tmp_path / f"ret_flat_{sub}"
        flat.mkdir()
        for i, (did, text) in enumerate(docs):  # one doc per batch, in order
            part = tmp_path / f"ret_p{sub}_{i}"
            spark.createDataFrame([(did, text)], "doc_id long, text string").coalesce(
                1
            ).write.mode("overwrite").parquet(str(part))
            shutil.copy(
                sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet"
            )
        idx, out, ck = (
            str(tmp_path / f"ret_{p}_{sub}") for p in ("idx", "out", "ck")
        )
        q = stream_scrub(
            stream_documents(spark, str(flat)), idx, out, ck,
            available_now=True, compact_every=2, retain_docs=retain,
        )
        q.awaitTermination(300)
        scrubbed = {r["doc_id"]: r["n_scrubbed"] for r in read_scrubbed(spark, out).collect()}
        return idx, scrubbed

    idx, scrubbed = run(50, "h")
    assert scrubbed[0] == 0
    assert scrubbed[10] == 8  # within horizon: scrubbed against doc 0
    assert scrubbed[100] == 0  # holder aged out: doc 100 is the NEW holder
    assert scrubbed[120] == 8  # within horizon of the NEW holder
    assert scrubbed[130] == 0  # unrelated text
    # old grams aged out of the index PHYSICALLY: the batch-4 compaction
    # folded with high-water mark 120, dropping the doc-0/doc-10 rows; no
    # retained first-holder predates the horizon of the newest enrolled doc
    grams = read_index(spark, f"{idx}/grams")
    from pyspark.sql import functions as F

    hi = grams.agg(F.max("first_doc")).first()[0]
    assert grams.filter(F.col("first_doc") < hi - 50).count() == 0

    # control: no retention -> every dup scrubs against doc 0 forever
    _, scrubbed_inf = run(None, "inf")
    assert scrubbed_inf == {0: 0, 10: 8, 100: 8, 120: 8, 130: 0}


def test_stream_bloom_enroll_equals_batch_any_order(spark, sf_dir, tmp_path):
    """The streaming Bloom enrollment must produce the batch
    bloom_decontamination filter for ANY benchmark arrival order: the
    filter is a pure OR-fold of per-shingle bit sets (idempotent,
    commutative — exactly the set union), so out-of-order batches across a
    bit_or compaction probe identically to the batch build. Also asserts
    the replay property structurally: re-running the last batch's append
    leaves the accumulated words unchanged."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.plans import CATALOG
    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK
    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import (
        bloom_report,
        read_bloom_words,
        stream_bloom_enroll,
        stream_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.expr(_BENCH_SPARK))
    train = d.filter(~F.expr(_BENCH_SPARK))
    n = d.agg(F.max("doc_id")).first()[0] + 1

    flat = tmp_path / "bl_flat"
    flat.mkdir()
    ranges = [(n // 3, 2 * n // 3), (2 * n // 3, n + 1), (0, n // 3)]  # out of order
    for i, (lo, hi) in enumerate(ranges):
        part = tmp_path / f"bl_p{i}"
        bench.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("overwrite").parquet(str(part))
        shutil.copy(
            sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet"
        )

    idx, ck = (str(tmp_path / p) for p in ("bl_idx", "bl_ck"))
    q = stream_bloom_enroll(
        stream_documents(spark, str(flat)), idx, ck,
        available_now=True, compact_every=2,
    )
    q.awaitTermination(300)

    got = sorted(tuple(r) for r in bloom_report(spark, idx, train).collect())
    want = sorted(
        tuple(r) for r in CATALOG["bloom_decontamination"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0

    # replay idempotence: re-appending the last batch's words (what an
    # at-least-once retry does) cannot change the accumulated filter
    from hdfs2cass_spark.functions.tokenize import W_SPARK
    from hdfs2cass_spark.operators.text import shingle_hashes
    from hdfs2cass_spark.plans.bloom import bloom_word_rows
    from hdfs2cass_spark.streaming.index import append

    before = read_bloom_words(spark, idx)
    last = bench.filter(
        (F.col("doc_id") >= ranges[-1][0]) & (F.col("doc_id") < ranges[-1][1])
    )
    sh = shingle_hashes(last.select(F.expr(W_SPARK).alias("ws")))
    append(bloom_word_rows(sh), idx, 2)
    assert read_bloom_words(spark, idx) == before


def test_stream_winnow_equals_batch(spark, sf_dir, tmp_path):
    """Streaming winnow-fingerprint matching against the accumulating index
    must equal the batch twin exactly when files arrive in doc_id order —
    across a bucketed compaction, with planted cross-batch copies provably
    flagged against their earlier originals."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.sources.readers import load_table
    from hdfs2cass_spark.streaming import (
        read_winnow_decisions,
        stream_documents,
        stream_winnow,
        winnow_decisions_batch,
    )
    from hdfs2cass_spark.streaming.index import n_subdirs

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = base.agg(F.max("doc_id")).first()[0] + 1
    extra = (  # late copies of the first 6 docs: must match their originals
        base.filter(F.col("text").isNotNull())
        .orderBy("doc_id")
        .limit(6)
        .select((F.col("doc_id") + hi).alias("doc_id"), "text")
    )
    train = base.unionByName(extra)
    n = train.agg(F.max("doc_id")).first()[0] + 1

    flat = tmp_path / "wn_flat"
    flat.mkdir()
    for i in range(3):  # doc_id RANGES: batch order == doc_id order
        part = tmp_path / f"wn_p{i}"
        train.filter(
            (F.col("doc_id") >= i * n / 3) & (F.col("doc_id") < (i + 1) * n / 3)
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        shutil.copy(sorted(glob.glob(str(part / "*.parquet")))[0], flat / f"{i}.parquet")

    idx, out, ck = (str(tmp_path / p) for p in ("wn_idx", "wn_out", "wn_ck"))
    q = stream_winnow(
        stream_documents(spark, str(flat)), idx, out, ck,
        available_now=True, compact_every=2,
    )
    q.awaitTermination(300)

    got = [tuple(r) for r in read_winnow_decisions(spark, out).collect()]
    want = [tuple(r) for r in winnow_decisions_batch(train).collect()]
    assert got == want and len(got) > 0
    # every planted late copy matched, first_match = its original
    by_id = {g[0]: g for g in got}
    for r in extra.collect():
        dec = by_id[r["doc_id"]]
        assert dec[1] is True and dec[2] == r["doc_id"] - hi
    # compaction bounded the fingerprint index dirs
    assert n_subdirs(spark, f"{idx}/fp") == 2
