"""Semantics tests for the corpus-quality operators (plans/quality.py).

The differential oracle test (test_catalog_oracle.py) proves cross-engine
exactness; these tests prove the operators MEAN what they claim: Gopher rules
fire on planted pathological docs, temperature sampling actually flattens the
language skew deterministically, int8 quantization preserves neighbor rank,
and the stats report's order statistics are internally consistent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdfs2cass_spark.plans import CATALOG
from hdfs2cass_spark.plans.quality import gopher_filter_df


def _doc(doc_id, text):
    return (doc_id, text)


def test_gopher_planted_docs(spark):
    good = " ".join(
        ["the", "a", "quick", "brown", "fox", "jumps"] * 10
    )  # 60 words, mean len ~3.8, all alpha, stopwords present
    rows = [
        _doc(1, good),
        _doc(2, "too short doc"),  # fails n_words
        _doc(3, " ".join(["supercalifragilistic"] * 60)),  # mean_word_len > 10
        _doc(4, " ".join(["quick", "brown", "fox"] * 20)),  # no stopwords
        _doc(5, " ".join(["123", "456"] * 30) + " the a"),  # alpha frac < 0.8
        _doc(6, None),  # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in gopher_filter_df(df).collect()}
    assert out[1].keep and all(
        [out[1].pass_n_words, out[1].pass_word_len, out[1].pass_alpha, out[1].pass_stop]
    )
    assert not out[2].keep and not out[2].pass_n_words
    assert not out[3].keep and not out[3].pass_word_len and out[3].pass_n_words
    assert not out[4].keep and not out[4].pass_stop
    assert not out[5].keep and not out[5].pass_alpha
    assert not out[6].keep and out[6].n_words is None


def test_temperature_sample_flattens_skew(spark, sf_dir):
    from hdfs2cass_spark.sources.readers import load_table

    corpus = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    sampled_rows = CATALOG["lang_temperature_sample"].fn(spark, sf_dir).collect()
    sampled = {}
    for r in sampled_rows:
        sampled[r.lang] = sampled.get(r.lang, 0) + 1
    # every language survives, and the majority language's share shrinks
    assert set(sampled) == set(corpus)
    corpus_total, samp_total = sum(corpus.values()), sum(sampled.values())
    major = max(corpus, key=corpus.get)
    minor = min(corpus, key=corpus.get)
    assert sampled[major] / samp_total < corpus[major] / corpus_total
    # minority languages keep (almost) everything: rate is 1.0 for the rarest
    assert sampled[minor] == corpus[minor]
    # skew ratio strictly decreases
    corpus_skew = corpus[major] / corpus[minor]
    samp_skew = sampled[major] / sampled[minor]
    assert samp_skew < corpus_skew
    # deterministic: a second run returns the identical sample
    again = CATALOG["lang_temperature_sample"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in sampled_rows]


def test_quantized_topk_agrees_with_exact(spark, sf_dir):
    exact = {
        (r.q_id, r.vec_id)
        for r in CATALOG["embedding_topk_cosine"].fn(spark, sf_dir).collect()
    }
    quant = {
        (r.q_id, r.vec_id)
        for r in CATALOG["embedding_quantized_topk"].fn(spark, sf_dir).collect()
    }
    assert len(quant) == len(exact)
    overlap = len(exact & quant) / len(exact)
    # int8 on 64 dims keeps most neighbors (measured 0.76 at sf0.01)
    assert overlap >= 0.6, f"quantized/exact top-k overlap collapsed: {overlap}"


def test_corpus_stats_invariants(spark, sf_dir):
    from hdfs2cass_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    n_total = d.count()
    rows = CATALOG["corpus_stats_report"].fn(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == n_total
    assert sum(r.corpus_share for r in rows) == pytest.approx(1.0, abs=1e-4)
    stats = {
        r.source: (r["min"], r["max"])
        for r in d.groupBy("source")
        .agg(F.min("n_chars").alias("min"), F.max("n_chars").alias("max"))
        .collect()
    }
    for r in rows:
        lo, hi = stats[r.source]
        assert lo <= r.median_chars <= hi
        assert r.median_chars <= r.p90_chars <= hi
        assert r.distinct_words <= r.total_words


def test_gopher_plan_is_map_side(spark, sf_dir):
    """The compute is shuffle-free: the only Exchange in the plan is the
    rangepartitioning for the output ORDER BY — no hashpartitioning."""
    plan = (
        CATALOG["gopher_quality_filter"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # round 10 (plans/present.py): the presentation orderBy now sits on a
    # hash-repartition BARRIER so the range sampler reuses shuffle files
    # instead of re-running the map-only compute. Contract: exactly ONE
    # hashpartitioning (the barrier, directly under the range sort), and
    # the compute BELOW it stays shuffle-free.
    assert plan.count("Exchange hashpartitioning") == 1
    below_barrier = plan.split("Exchange hashpartitioning", 1)[1]
    assert "Exchange" not in below_barrier  # map-only under the barrier
    assert plan.index("rangepartitioning") < plan.index("Exchange hashpartitioning")


def test_temperature_sample_joins_broadcast(spark, sf_dir):
    """The per-language rates reach the corpus scan via a broadcast join —
    the corpus itself is never shuffled on lang."""
    plan = (
        CATALOG["lang_temperature_sample"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("hash_mode", ["md5", "xxhash64"])
def test_rag_planted_exact_copy_ranks_first(spark, hash_mode):
    """Hash-independent invariant pinning BOTH twins: an exact copy of the
    query doc has the identical word multiset, so its chunk embeds to the
    same vector under ANY word hash and retrieves at rank 1, cosine 1.0."""
    from hdfs2cass_spark.plans.rag import rag_retrieve_df

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    q0 = " ".join(vocab * 8)  # 64 words -> one chunk
    rows = [
        (0, q0),
        (1, " ".join(["filler", "noise", "words", "here"] * 16)),
        (2, " ".join(["other", "content", "entirely"] * 20)),
        (100, q0),  # exact copy of the query doc -> cosine 1.0
        (101, " ".join(["unrelated", "tokens"] * 32)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = rag_retrieve_df(df, k=3, n_queries=1, hash_mode=hash_mode).collect()
    by_rank = {r.rnk: r for r in out if r.q_id == 0}
    assert by_rank[1].doc_id == 100
    assert by_rank[1].cosine == pytest.approx(1.0, abs=1e-5)
    # the query doc's own chunks never retrieve
    assert all(r.doc_id != 0 for r in out)


def test_rag_catalog_invariants(spark, sf_dir):
    rows = CATALOG["rag_chunk_retrieval_md5"].fn(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.doc_id != q_id for r in rs)


def test_funnel_consistent_with_curate(spark, sf_dir):
    funnel = {r.stage: r for r in CATALOG["curation_funnel"].fn(spark, sf_dir).collect()}
    packed_n = CATALOG["curate_corpus"].fn(spark, sf_dir).count()
    assert funnel["decontam"].n_docs == packed_n
    order = ["input", "quality", "exact_dedup", "near_dup", "decontam"]
    ns = [funnel[s].n_docs for s in order]
    assert ns == sorted(ns, reverse=True)  # monotone funnel
    assert funnel["input"].retention == 1.0
    assert all(funnel[s].n_dropped >= 0 for s in order)


def test_token_budget_selection_is_greedy_prefix(spark, sf_dir):
    from hdfs2cass_spark.plans.quality import TOKEN_BUDGET
    from hdfs2cass_spark.sources.readers import load_table

    sel = CATALOG["select_token_budget"].fn(spark, sf_dir).collect()
    sel_ids = {r.doc_id for r in sel}
    assert sel, "selection is empty"
    # every selected doc entered under budget
    assert all(r.budget_used_before < TOKEN_BUDGET for r in sel)
    # greedy prefix: the worst selected quality >= the best unselected quality
    all_rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .count()
    )
    if all_rows > len(sel):  # corpus exceeds the budget -> a real cutoff
        from hdfs2cass_spark.functions.tokenize import STOPWORDS, W_SPARK

        scored = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", F.expr(W_SPARK).alias("ws"))
            .select(
                "doc_id",
                F.round(
                    0.6
                    * (
                        F.expr("size(array_distinct(ws))").cast("double")
                        / F.expr("size(ws)")
                    )
                    + 0.4
                    * (
                        1.0
                        - F.expr(f"size(filter(ws, w -> w IN {STOPWORDS}))").cast(
                            "double"
                        )
                        / F.expr("size(ws)")
                    ),
                    6,
                ).alias("q"),
            )
            .collect()
        )
        unsel_q = [r.q for r in scored if r.doc_id not in sel_ids]
        sel_q = [r.q for r in scored if r.doc_id in sel_ids]
        assert min(sel_q) >= max(unsel_q)
        # the selection fills the budget: adding the best unselected doc's
        # tokens would not have fit strictly before the cutoff
        assert max(r.budget_used_before + r.n_tokens for r in sel) >= TOKEN_BUDGET


@pytest.mark.parametrize("name", ["rag_chunk_retrieval_md5", "embedding_quantized_topk"])
def test_topk_queries_use_window_group_limit(spark, sf_dir, name):
    """Both ANN-style rankers keep the partial top-k BELOW the rank shuffle
    (WindowGroupLimit) and never degrade to a sort-merge join."""
    plan = CATALOG[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_token_budget_windows_are_sharded(spark, sf_dir):
    """The corpus-sized window of the budget cumsum is partitioned by the
    prefix-sum shard — only the tiny per-level totals window (bounded by
    LEVEL_LIMIT pre-aggregated rows) runs unpartitioned."""
    plan = (
        CATALOG["select_token_budget"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partitionBy" not in plan  # sanity: physical string uses specs below
    assert "_shard" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_label_stats_semantics(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # label 0: COLLAPSED (all members identical) -> cohesion 1, dispersion 0
    # label 1: two orthogonal unit vectors -> centroid norm sqrt(2)/2
    v_a = [1.0] + [0.0] * 63
    v_b = [0.0, 1.0] + [0.0] * 62
    rows = [(i, v_a, 0) for i in range(5)] + [(10, v_a, 1), (11, v_b, 1)]
    t = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    d = str(tmp_path / "emb")
    (tmp_path / "emb").mkdir()
    pq.write_table(t, f"{d}/embeddings.parquet")
    out = {r.label: r for r in CATALOG["embedding_label_stats"].fn(spark, d).collect()}
    assert out[0].n_vecs == 5
    assert out[0].avg_cos_to_centroid == pytest.approx(1.0, abs=1e-5)
    assert out[0].dispersion == pytest.approx(0.0, abs=1e-5)
    assert out[0].centroid_norm == pytest.approx(1.0, abs=1e-5)
    assert out[1].centroid_norm == pytest.approx(2**0.5 / 2, abs=1e-5)
    assert out[1].avg_cos_to_centroid == pytest.approx(2**0.5 / 2, abs=1e-5)

    # fixture invariant: unit-norm members make avg_cos == centroid_norm
    # (avg v.c/(|v||c|) = |c| when every |v| = 1 — a built-in cross-check)
    for r in CATALOG["embedding_label_stats"].fn(spark, sf_dir).collect():
        assert r.avg_cos_to_centroid == pytest.approx(r.centroid_norm, abs=2e-6)
        assert 0.0 <= r.dispersion
        assert r.min_vec_norm <= r.max_vec_norm


def test_embedding_label_stats_survives_large_cohesive_label(spark, tmp_path):
    """Regression: a label with >~3e3 identical members used to wrap the
    int64 centroid-norm term (S_d*S_d with S_d = n*1e6) on BOTH engines —
    precisely the encoder-collapse case the QA report exists to detect.
    Fixed by computing the S_d^2 terms as fixed-order DOUBLE products."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 3200  # S_1 = 3.2e9 -> int64 S_1^2 = 1.024e19 > 2^63-1 pre-fix
    v = [1.0] + [0.0] * 63
    t = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([v] * n, pa.list_(pa.float32())),
            "label": pa.array([0] * n, pa.int32()),
        }
    )
    d = str(tmp_path / "emb")
    (tmp_path / "emb").mkdir()
    pq.write_table(t, f"{d}/embeddings.parquet")
    q = CATALOG["embedding_label_stats"]
    row = q.fn(spark, d).collect()[0]
    assert row.n_vecs == n
    assert row.centroid_norm == pytest.approx(1.0, abs=1e-5)
    assert row.avg_cos_to_centroid == pytest.approx(1.0, abs=1e-5)
    assert row.dispersion == pytest.approx(0.0, abs=1e-5)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet')"
    )
    orow = con.execute(q.oracle).fetchone()  # label, n_vecs, centroid_norm, ...
    assert orow[1] == n
    assert orow[2] == pytest.approx(1.0, abs=1e-5)


def test_token_budget_rejects_out_of_range_doc_id(spark, tmp_path):
    """select_token_budget packs doc_id into the low 40 bits of its greedy
    sort key (load-bearing: exclusive_cumsum shards by integer-div of ONE
    key). A doc_id outside [0, 2^40) must fail LOUDLY on both engines —
    never silently corrupt the quality ordering."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "doc_id": pa.array([1, (1 << 40) + 5], pa.int64()),
            "text": pa.array(["good words here", "more words here"], pa.string()),
        }
    )
    d = str(tmp_path / "docs")
    (tmp_path / "docs").mkdir()
    pq.write_table(t, f"{d}/documents.parquet")
    q = CATALOG["select_token_budget"]
    with pytest.raises(Exception, match="doc_id outside"):
        q.fn(spark, d).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    with pytest.raises(duckdb.Error, match="doc_id outside"):
        con.execute(q.oracle).fetchall()


def test_epoch_mix_rebalances_with_oversampling(spark, sf_dir):
    from hdfs2cass_spark.sources.readers import load_table

    corpus = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = CATALOG["lang_epoch_mix"].fn(spark, sf_dir).collect()
    mixed = {}
    for r in rows:
        mixed[r.lang] = mixed.get(r.lang, 0) + 1
    major = max(corpus, key=corpus.get)
    minor = min(corpus, key=corpus.get)
    # minority languages OVERSAMPLE (epochs > 1 exist), majority downsamples
    assert mixed[minor] > corpus[minor]
    assert mixed[major] < corpus[major]
    assert any(r.epoch >= 2 for r in rows if r.lang == minor)
    assert all(r.epoch == 1 for r in rows if r.lang == major)
    # expectation-preserving: expanded total within 15% of the corpus size
    assert abs(sum(mixed.values()) - sum(corpus.values())) / sum(corpus.values()) < 0.15
    # skew flattens
    assert mixed[major] / mixed[minor] < corpus[major] / corpus[minor]


def test_outlier_sweep_constant_user_excluded(spark, tmp_path):
    """A user whose every value is identical has sigma 0 — the z-score is
    NULL (nullif guard, both engines) and the user contributes no outliers;
    a user with one wild value flags exactly that event."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(i, 1, 5.0) for i in range(10)] + [
        (100 + i, 2, 10.0) for i in range(9)
    ] + [(109, 2, 500.0)]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "ts": pa.array([0] * len(rows), pa.timestamp("us")),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = str(tmp_path / "ev")
    (tmp_path / "ev").mkdir()
    pq.write_table(t, f"{d}/events.parquet")
    out = CATALOG["events_value_outliers"].fn(spark, d).collect()
    assert all(r.user_id != 1 for r in out)  # constant series never flags
    flagged = [r for r in out if r.user_id == 2]
    assert [r.event_id for r in flagged] == [109]
    assert flagged[0].z > 2.0


def test_pack_fragments_tile_exactly(spark, sf_dir):
    """Fragments tile the token axis: per doc they sum to n_tokens, per
    sequence (except the last) they fill exactly PACK_BUDGET contiguously."""
    from hdfs2cass_spark.plans.pipeline import PACK_BUDGET

    frags = CATALOG["pack_fragments"].fn(spark, sf_dir).collect()
    packed = {r.doc_id: r for r in CATALOG["pack_sequences"].fn(spark, sf_dir).collect()}
    by_doc, by_seq = {}, {}
    for r in frags:
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.frag_len
        by_seq.setdefault(r.seq_id, []).append((r.seq_off, r.frag_len))
    for doc_id, tot in by_doc.items():
        assert tot == packed[doc_id].n_tokens
    last_seq = max(by_seq)
    for seq_id, parts in by_seq.items():
        parts.sort()
        pos = 0
        for off, ln in parts:
            assert off == pos  # contiguous, no gaps or overlaps
            pos += ln
        if seq_id != last_seq:
            assert pos == PACK_BUDGET


def test_multibench_suite0_matches_single_benchmark_decontam(spark, sf_dir):
    """decontamination_by_benchmark's suite 0 IS decontamination_overlap's
    benchmark set: for every doc that is train in BOTH queries (bid >= 3),
    hits_suiteA must equal the single-benchmark n_contaminated."""
    multi = {
        r.doc_id: r for r in CATALOG["decontamination_by_benchmark"].fn(spark, sf_dir).collect()
    }
    single = {
        r.doc_id: r for r in CATALOG["decontamination_overlap"].fn(spark, sf_dir).collect()
    }
    both = set(multi) & set(single)
    assert len(both) > 100  # the fixture must actually exercise the overlap
    for doc in both:
        assert multi[doc].hits_suiteA == single[doc].n_contaminated, doc
        assert multi[doc].n_shingles == single[doc].n_shingles, doc
    # worst_suite is NULL exactly when every suite count is zero
    for r in multi.values():
        mx = max(r.hits_suiteA, r.hits_suiteB, r.hits_suiteC)
        assert (r.worst_suite is None) == (mx == 0)


def test_dsir_and_crossdedup_are_partition_invariant(spark, sf_dir):
    """The round-6 composable operators' outputs must not depend on the
    input's physical partitioning — every tiebreak is an explicit column,
    never an arrival order (DECIMAL sums are order-independent by type)."""
    from hdfs2cass_spark.plans.crossdedup import cross_dedup_df
    from hdfs2cass_spark.plans.dsir import dsir_weights_df
    from hdfs2cass_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    outs = []
    for n in (1, 7):
        dd = d.repartition(n)
        new = dd.filter(F.col("doc_id") % 3 != 0)
        ref = dd.filter(F.col("doc_id") % 3 == 0)
        outs.append(
            (
                sorted(tuple(r) for r in dsir_weights_df(dd).collect()),
                sorted(tuple(r) for r in cross_dedup_df(new, ref).collect()),
            )
        )
    assert outs[0] == outs[1]


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_quality_operators_are_source_format_agnostic(spark, sf_dir, tmp_path, fmt):
    """The corpus operators bind to DataFrames, not to parquet: the same
    documents round-tripped through ORC/JSON/CSV produce identical Gopher
    verdicts (schema pinned on read — CSV/JSON carry no types)."""
    from hdfs2cass_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / fmt)
    w = d.write.mode("overwrite")
    if fmt == "csv":
        w.option("header", "true").option("quoteAll", "true").csv(path)
        back = (
            spark.read.option("header", "true")
            .schema("doc_id bigint, text string")
            .csv(path)
        )
    elif fmt == "json":
        w.json(path)
        back = spark.read.schema("doc_id bigint, text string").json(path)
    else:
        w.orc(path)
        back = spark.read.orc(path)
    want = sorted(tuple(r) for r in gopher_filter_df(d).collect())
    got = sorted(tuple(r) for r in gopher_filter_df(back).collect())
    assert got == want
