"""Physical-plan regression tests: the properties that make these queries
scale are asserted, not assumed — a refactor that silently loses a broadcast,
pushdown, or the single-shuffle bulk plan fails here."""

import re

import pytest

from hdfs2cass_spark.plans import CATALOG
from hdfs2cass_spark.sinks.pipeline import bulk_load


def _explain(spark, df, mode="simple"):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def catalog_plans(spark, sf_dir):
    """One {name: simple-mode explain} sweep over the whole catalog, shared
    by every blanket plan-quality net below. Building all 108 plans is the
    expensive part (fn() construction runs eager work for the iterative
    queries), and each blanket test used to pay it separately — ~75 s per
    test at the r13 suite (r13 verdict item 1: the suite must fit the
    driver's verify budget). Tests that tweak session confs or need
    formatted mode keep calling _explain directly."""
    return {name: _explain(spark, q.fn(spark, sf_dir)) for name, q in CATALOG.items()}


def test_q1_pushdown_and_pruning(spark, sf_dir):
    p = _explain(spark, CATALOG["q1_pricing_summary"].fn(spark, sf_dir), "formatted")
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", p)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "l_orderkey" not in m.group(1)  # unused columns pruned from the scan
    assert "partial_sum" in p  # map-side combine


def test_q5_all_joins_broadcast(spark, sf_dir):
    # At test scale every side fits the threshold, so all five joins broadcast
    # (customer/supplier via the size guard, nation/region unconditionally).
    p = _explain(spark, CATALOG["q5_local_supplier_volume"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in p


def test_q5_growing_dims_not_hinted_when_broadcast_disabled(spark, sf_dir):
    """customer/supplier hints are size-guarded: with broadcasting disabled
    (threshold -1) the guard must yield NO hint for them, so only shuffle
    joins appear — a hardcoded broadcast() would ignore the threshold and
    still produce BroadcastHashJoin (the r9 OOM-at-100x defect shape)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _explain(spark, CATALOG["q5_local_supplier_volume"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    # nation/region keep their unconditional hints (fixed 25/5 rows at every
    # SF); customer/supplier/orders must fall back to non-broadcast joins.
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_q3_topk_never_global_sorts(spark, sf_dir):
    p = _explain(spark, CATALOG["q3_shipping_priority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_q3_fact_side_join_never_force_broadcast(spark, sf_dir):
    """The orders(x)customer side keeps ~95% of orders (the o_orderdate filter
    is barely selective) — it must never carry an explicit broadcast hint.
    With the threshold disabled, no join in q3 may broadcast: the customer
    hint is size-guarded off and the planner can't pick broadcast on its own."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _explain(spark, CATALOG["q3_shipping_priority"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "BroadcastHashJoin" not in p
    assert "TakeOrderedAndProject" in p  # top-k shape survives the join change


def test_bulk_load_single_shuffle_no_python_hop(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    routed = bulk_load(cust, "cql://h/ks/t?reducers=8", rowkey="c_custkey", now_ms=42)
    p = _explain(spark, routed)
    assert p.count("Exchange") == 1  # the bucket repartition — nothing else shuffles
    assert "ArrowEvalPython" not in p  # the token is a JVM function: nothing crosses to Python
    assert "Sort [bucket" in p  # in-partition sort feeding the append-only sink
    routed.collect()  # the final adaptive plan carries the codegen stage ids
    assert re.search(r"\*\(\d+\) Project \[[^\n]*h2c_m3tok\(", _explain(spark, routed))


@pytest.mark.parametrize(
    "name, decode",
    [
        pytest.param("jpeg_image_features", "h2c_media_decode(", id="jpeg_image_features"),
        pytest.param("gif_image_features", "h2c_media_decode(", id="gif_image_features"),
        pytest.param("wav_audio_features", "h2c_audio_features(", id="wav_audio_features"),
    ],
)
def test_image_queries_have_no_python_node(spark, sf_dir, name, decode):
    """Encode and decode are Catalyst and JVM functions: the executed plan
    starts no Python worker."""
    df = CATALOG[name].fn(spark, sf_dir)
    df.collect()  # the final adaptive plan
    p = _explain(spark, df)
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p
    assert decode in p


def test_semi_anti_join_plans(spark, sf_dir):
    p = _explain(spark, CATALOG["semi_anti_join_customers"].fn(spark, sf_dir))
    assert "LeftSemi" in p
    assert "LeftAnti" in p


def test_topk_cosine_truncates_map_side(spark, sf_dir):
    """embedding_topk_cosine must truncate per-partition BEFORE the window's
    exchange: Catalyst rewrites the rnk<=5 filter to WindowGroupLimit with a
    Partial pass below the shuffle, so no task ever ranks the full similarity
    set. If this rewrite is lost (e.g. the filter drifts away from the
    row_number), the Partial disappears and this fails."""
    p = _explain(spark, CATALOG["embedding_topk_cosine"].fn(spark, sf_dir))
    partial = p.index("row_number(), 5, Partial")
    # tree prints root-first: Partial group-limit must sit BELOW the exchange
    # (later in the string) and ABOVE the broadcast join that emits the sims
    assert p.index("Exchange hashpartitioning") < partial
    assert partial < p.index("BroadcastNestedLoopJoin")
    assert "MapInPandas" not in p  # fully JVM-side — no Python hop


def test_lsh_pairs_no_persist_no_selfjoin(spark, sf_dir):
    """minhash_lsh_pairs: bucket-grouped expansion — exactly one aggregate on
    (band, bkey), no band-table self-join, nothing persisted."""
    df = CATALOG["minhash_lsh_pairs"].fn(spark, sf_dir)
    p = _explain(spark, df)
    assert "InMemoryTableScan" not in p  # no persist leaked into the plan
    assert "Generate explode" in p or "Generate" in p
    # candidate pairs come from in-bucket expansion, not a band self-join
    assert "Join" not in p
    # storage: nothing entered the SQL cache while building the plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_near_duplicates_plan(spark, sf_dir):
    """The verify stage joins candidates to the per-doc shingle sets by key —
    never a cartesian — and nothing rides the SQL cache."""
    p = _explain(spark, CATALOG["dedup_near_duplicates"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" not in p
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_hashing_stays_codegen(spark, sf_dir):
    """The 16 minhash functions must be computed inside a codegen'd aggregate
    — higher-order-function lambdas (array_min(transform(...))) run
    interpreted and measured 7x slower at sf0.1."""
    p = _explain(spark, CATALOG["minhash_lsh_pairs"].fn(spark, sf_dir), "formatted")
    # transform() appears legitimately (shingle construction, in-bucket pair
    # expansion — once per doc/bucket); the HASH must never sit inside one
    for line in p.splitlines():
        if "transform(" in line:
            assert "md5(" not in line and "xxhash" not in line
    assert "partial_min" in p  # map-side partial minhash aggregation


def test_sink_partition_pruning(spark, sf_dir, tmp_path):
    """Reading one bucket back from the simulated sink prunes the others at
    the file-listing level (PartitionFilters on the bucket dir column)."""
    out = str(tmp_path / "sink")
    bulk_load(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        "cql://h/ks/t?reducers=4",
        rowkey="c_custkey",
        now_ms=42,
        simulated_path=out,
    )
    back = spark.read.parquet(out).filter("bucket = 2")
    p = _explain(spark, back, "formatted")
    assert re.search(r"PartitionFilters: \[[^\]]*bucket[^\]]*2", p)


def test_no_query_uses_row_python_or_cartesian(spark, catalog_plans):
    """Blanket plan-quality net over the WHOLE catalog: no query may plan a
    row-at-a-time Python UDF (BatchEvalPython — Arrow-batched ArrowEvalPython
    and MapInPandas are the only permitted Python crossings), an unbroadcast
    CartesianProduct, or a leaked persist (InMemoryTableScan — eager
    localCheckpoint shows as Scan ExistingRDD and is the sanctioned
    materialization; SQL-cache entries outlive the query and poison the
    session). Catches any future query sneaking in the classic
    scale-killers."""
    flagged = {}
    for name, p in catalog_plans.items():
        marks = [
            m
            for m in ("BatchEvalPython", "CartesianProduct", "InMemoryTableScan")
            if m in p
        ]
        if marks:
            flagged[name] = marks
    assert flagged == {}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_no_unbarriered_range_sort_over_maponly_compute(catalog_plans):
    """Blanket net for the present.py defect class (caught on the winnow
    report in r10 and token_route_customer in r13): an ORDER BY plans a
    range exchange whose boundary sampler RE-EXECUTES the child; when the
    child is map-only and contains expensive compute (Python hops, windows),
    the whole query runs twice. Every such query must route through
    present_sorted (hash-repartition barrier first). The check: below a
    rangepartitioning exchange there must be another exchange whenever the
    subtree contains an expensive compute node."""
    expensive = (
        "ArrowEvalPython",
        "MapInPandas",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
        "Window ",
    )
    barriers = (
        "Exchange hashpartitioning",
        "Exchange SinglePartition",
        "Exchange RoundRobin",
        "ShuffleQueryStage",
        "AQEShuffleRead",
    )
    flagged = []
    for name, p in catalog_plans.items():
        i = p.find("rangepartitioning")
        if i < 0:
            continue
        child = p[i:]
        if not any(b in child for b in barriers) and any(m in child for m in expensive):
            flagged.append(name)
    assert flagged == []


def test_window_rank_is_group_limited(spark, sf_dir):
    """window_rank_customers (r13 rewrite): the top-3 selection must plan a
    PARTIAL WindowGroupLimit before its exchange (map tasks ship <= 3 rows
    per nation) and the full-partition six-function window must be gone —
    the rank family is reconstructed from the 75-row subset + tiny
    aggregates, so no Window node may consume the raw customer scan."""
    p = _explain(spark, CATALOG["window_rank_customers"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "Partial" in p
    # the expensive shape would be a Window evaluating percent_rank/cume_dist
    # over every row; the rewrite computes them arithmetically
    assert "percent_rank" not in p
    assert "cume_dist" not in p


def test_token_route_sampler_reuses_barrier(spark, sf_dir):
    """token_route_customer (r13 fix): both token functions are map-only, so
    the presentation sort must sit on a hash-repartition barrier — otherwise
    the range sampler re-runs the murmur3 + md5 tokens (measured 2x end-to-end
    on the 1.5M-row probe slice, when they were Python UDFs)."""
    p = _explain(spark, CATALOG["token_route_customer"].fn(spark, sf_dir))
    i = p.find("rangepartitioning")
    assert i >= 0
    assert "Exchange hashpartitioning" in p[i:] or "ShuffleQueryStage" in p[i:]
    assert p.count("ArrowEvalPython") == 0  # both tokens are JVM functions


def test_substring_spans_skew_safe_dup_marking(spark, sf_dir):
    """exact_substring_spans must NOT mark duplicated positions with a Window
    partitioned on the gram hash: a window partition cannot be split, so one
    hot gram (boilerplate in a third of a crawl) streams through a single
    task. The skew-safe shape (round 6) is a checkpointed gram table +
    groupBy(h) min/max — map-side partial combine collapses the hot key per
    mapper — joined back on h (AQE-splittable). The only windows left are
    per-doc (gaps-and-islands)."""
    p = _explain(spark, CATALOG["exact_substring_spans"].fn(spark, sf_dir))
    assert "windowspecdefinition(h#" not in p  # no gram-partitioned window
    assert "Scan ExistingRDD" in p  # gram table materialized exactly once
    assert "partial_min" in p and "partial_max" in p  # map-side combine on h


def test_range_join_plans_as_bucketed_equi_join(spark, sf_dir):
    """The declared range join must plan as an equi-join on the bucket column
    — never the nested-loop join Spark produces for a raw range predicate."""
    from hdfs2cass_spark.plans.catalog import range_join_events_windows

    p = _explain(spark, range_join_events_windows(spark, sf_dir), "formatted")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "_bucket" in p  # the equi-key the hash join runs on


def test_decontamination_broadcasts_bench_set(spark, sf_dir):
    """The benchmark shingle set must broadcast (it's tiny next to the
    corpus): the overlap check is a map-side join — losing the broadcast
    turns it into a corpus-wide sort-merge shuffle."""
    p = _explain(spark, CATALOG["decontamination_overlap"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pack_sequences_prefix_sum_is_distributed(spark, sf_dir):
    """pack_sequences must compute the running offset with a window
    PARTITIONED by the id-range shard (parallel) plus a broadcast join of the
    tiny shard-offset table — never one global unpartitioned window over the
    corpus rows."""
    p = _explain(spark, CATALOG["pack_sequences"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # the per-doc cumsum window is keyed by the shard column
    assert "windowspecdefinition(_shard" in p


def test_corpus_mix_quota_truncates_map_side(spark, sf_dir):
    """The per-(lang, source) quota must plan as WindowGroupLimit so each
    mapper forwards only ~quota rows per cell into the shuffle."""
    p = _explain(spark, CATALOG["corpus_mix_quota"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_salted_agg_is_two_phase(spark, sf_dir):
    """salted_agg_events must show BOTH aggregation phases (key,salt) then
    (key) — the salt visible in the inner grouping — and partial aggregation
    (map-side combine) on each."""
    from hdfs2cass_spark.plans.catalog import salted_agg_events

    p = _explain(spark, salted_agg_events(spark, sf_dir), "formatted")
    assert "_salt" in p
    assert p.count("HashAggregate") >= 4  # partial+final for each phase


def test_spread_docs_is_conditional(spark, sf_dir):
    """_spread_docs repartitions a narrow (single-split) scan but must NO-OP
    when the input already has parallelism — shipping the raw corpus through
    an exchange to fix parallelism the scan already provides is the scale
    anti-pattern it exists to avoid."""
    from hdfs2cass_spark.operators.text import _spread_docs

    narrow = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spread = _spread_docs(narrow)
    assert spread is not narrow
    assert "REPARTITION_BY_NUM" in _explain(spark, spread)  # narrow scan spread
    n = spark.sparkContext.defaultParallelism
    wide = narrow.repartition(n)  # already-parallel input
    assert _spread_docs(wide) is wide  # identity: no exchange added


def test_spread_docs_asks_spark_and_memoizes(spark, sf_dir, tmp_path, monkeypatch):
    """_spread_docs decides exactly as Spark's own scan partition count says
    (2 * df.rdd.getNumPartitions() >= defaultParallelism) on every fixture
    table, and memoizes that count: a rebuilt frame over the same files pays
    no df.rdd conversion, while a changed file set or a changed
    maxPartitionBytes asks Spark again."""
    import shutil

    from pyspark.sql import functions as F

    from hdfs2cass_spark.operators import text
    from hdfs2cass_spark.sources.readers import TABLES, load_table

    monkeypatch.setattr(text, "_NUM_PARTITIONS", {})
    n = spark.sparkContext.defaultParallelism
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        if "doc_id" not in df.columns:  # the spread repartitions by doc_id
            df = df.select(F.lit(0).alias("doc_id"), "*")
        keep = 2 * df.rdd.getNumPartitions() >= n
        assert (text._spread_docs(df) is df) == keep, t

    docs = load_table(spark, sf_dir, "documents")
    calls = []
    rdd = type(docs).rdd
    monkeypatch.setattr(
        type(docs), "rdd", property(lambda self: calls.append(1) or rdd.func(self))
    )
    text._spread_docs(load_table(spark, sf_dir, "documents"))
    assert calls == []  # same plan, same files: memo hit
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path / "documents.parquet")
    text._spread_docs(load_table(spark, str(tmp_path), "documents"))
    assert calls == [1]  # other file set: miss
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    try:
        text._spread_docs(load_table(spark, sf_dir, "documents"))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert calls == [1, 1]  # other split conf: miss


def test_spread_docs_accepts_size_suffixed_split_conf(spark, sf_dir):
    """spark.sql.files.maxPartitionBytes takes size strings like "64m"; a
    spreading query must run under them, not fail parsing the conf."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
    try:
        rows = CATALOG["ngram_jaccard_pairs"].fn(spark, sf_dir).collect()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert rows


def test_materialize_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """materialize() (r14, r13 verdict item 9): DISK_ONLY localCheckpoint by
    default; a RELIABLE checkpoint when the session has a checkpoint dir —
    executor loss must not sever lineage on a real cluster. Rows identical
    either way."""
    from hdfs2cass_spark.operators.ckpt import materialize

    def _ckpt_rdd(df):
        # the checkpoint handle is the LogicalRDD at the analyzed-plan root
        # (a fresh _jdf.rdd() would build a NEW, un-checkpointed RDD)
        return df._jdf.queryExecution().analyzed().rdd()

    df = spark.range(100).withColumnRenamed("id", "k")
    expect = [r.k for r in df.collect()]
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # bench/local default: no dir
    local = materialize(df)
    assert sorted(r.k for r in local.collect()) == expect
    assert _ckpt_rdd(local).isLocallyCheckpointed()
    assert not _ckpt_rdd(local).isReliablyCheckpointed()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        assert sc.getCheckpointDir() is not None
        rel = materialize(spark.range(100).withColumnRenamed("id", "k"))
        assert sorted(r.k for r in rel.collect()) == expect
        # lazy reliable checkpoint: materialized by the action above
        assert _ckpt_rdd(rel).isReliablyCheckpointed()
    finally:
        # the dir is session-global: restore the no-dir default so the rest
        # of the suite keeps the cheap localCheckpoint path (the Scala
        # setter is name-mangled, hence getattr)
        none_opt = sc._jvm.scala.Option.apply(None)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(none_opt)
    assert sc.getCheckpointDir() is None


def test_jaccard_single_corpus_pass(spark, sf_dir):
    """ngram_jaccard_pairs must evaluate the shingle chain ONCE: one
    array_distinct in the whole plan (the n_tot embedding dodges the
    post-explode re-evaluation and the array-carry-through-explode copies —
    both measured quadratic per doc), no self-join, one corpus aggregate."""
    p = _explain(spark, CATALOG["ngram_jaccard_pairs"].fn(spark, sf_dir))
    assert p.count("array_distinct") == 1
    assert "SortMergeJoin" not in p
    # the in-bucket pair expansion replaces the a/b self-join: candidate
    # pairs come from ONE Generate over bucket rows, not a join on h
    assert p.count("ObjectHashAggregate") <= 2  # partial+final of one collect


def test_capped_buckets_count_precedes_collect(spark):
    """capped_buckets must gate bucket size with a streaming window COUNT
    BEFORE the collect_list — so a degenerate hot key (boilerplate shingle,
    identical band signature across millions of docs) is dropped by a
    spillable linear pass instead of materializing an unbounded aggregation
    buffer — and the whole subtree must ride ONE exchange (count + filter +
    collect all on the same hashpartitioning of the bucket key)."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.operators.buckets import capped_buckets

    df = spark.range(100).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    p = _explain(spark, capped_buckets(df, ["k"], "v", cap=30))
    # tree prints root-first: final collect agg, then the filter, then the
    # window count, then the single exchange
    i_collect = p.index("ObjectHashAggregate")
    m_filter = re.search(r"_df#\d+L? >= 2", p)
    i_window = p.index("windowspecdefinition")
    assert m_filter and i_collect < m_filter.start() < i_window
    assert p.count("Exchange") == 1


def test_lsh_family_gates_hot_keys_before_collect(spark, sf_dir):
    """Every LSH-family candidate generator (minhash bands, jaccard shingle
    buckets, simhash bands, hyperplane codes) must carry the capped_buckets
    gate: a filter on the window count column precedes any collect_list."""
    for name in (
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "simhash_near_dup_pairs",
        "embedding_near_dup_pairs",
        "dedup_near_duplicates",
        "dedup_against_reference",  # cross-corpus: gate on the COMBINED bucket
    ):
        p = _explain(spark, CATALOG[name].fn(spark, sf_dir))
        assert re.search(r"_df#\d+L? >= 2", p), name
        assert "windowspecdefinition" in p, name


def test_tfidf_never_broadcasts_vocabulary(spark, sf_dir):
    """Document frequency must come from a window over the tf table — one
    corpus pass, no join against (and no broadcast of) a corpus-scaled
    vocabulary table."""
    p = _explain(spark, CATALOG["tfidf_top_terms"].fn(spark, sf_dir))
    assert "windowspecdefinition(w" in p
    # the only broadcast is the single-row n_docs scalar
    assert p.count("BroadcastNestedLoopJoin") == 1
    assert p.count("BroadcastHashJoin") == 0


def test_winnow_selection_is_map_only(spark, sf_dir):
    """Winnowing fingerprint SELECTION must never shuffle: the grams are
    selected in place from the per-doc hash array (HOFs), not exploded and
    re-aggregated. The only exchanges in the declared query are the final
    presentation orderBy's range partitioning + its AQE reads."""
    from hdfs2cass_spark.plans.winnow import winnow_fingerprints_df
    from hdfs2cass_spark.sources import load_table

    p = _explain(spark, winnow_fingerprints_df(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in p  # map-only: scan -> project -> explode selected
    assert "Generate explode" in p  # only the SELECTED fingerprints explode


def test_winnow_pairs_capped_before_collect(spark, sf_dir):
    """The pair stage rides the capped-bucket gate: the window COUNT must
    precede the collect_list so a boilerplate fingerprint's bucket is
    dropped before any aggregation buffer fills (the minhash/LSH family
    invariant)."""
    p = _explain(spark, CATALOG["winnow_candidate_pairs"].fn(spark, sf_dir))
    # the plan string prints root-first, so the UPSTREAM window count
    # appears AFTER the collect_list aggregate in the text
    assert "windowspecdefinition(h#" in p  # the per-hash count gate exists
    assert p.index("collect_list") < p.index("windowspecdefinition(h#")


def test_refppl_fit_denominator_rides_window(spark, sf_dir, monkeypatch):
    """ref_perplexity_buckets' model fit (r13 #16): cnt_a must ride a window
    over the (a, b) count table, not a re-aggregate + join-back — Catalyst
    inlines the join-back form as a SECOND aggregate subtree and re-shuffles
    the counts by a, all inside the per-pass checkpoint lineage. The fit is
    hidden behind the lazy localCheckpoints, so assert on the
    checkpoint-BYPASSED tree: the unigram window exists and no aggregate
    keyed by the unigram alone survives (the join-back form's cu =
    groupBy(a) subtree) — a structural property, unlike the old inlined
    scan count, which was coupled to Catalyst inlining behavior (r13
    ADVICE)."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    monkeypatch.setattr(ClassicDF, "localCheckpoint", lambda self, *a, **k: self)
    p = _explain(spark, CATALOG["ref_perplexity_buckets"].fn(spark, sf_dir))
    assert "windowspecdefinition(a#" in p  # cnt_a = sum(cnt_ab) OVER (PARTITION BY a)
    # no HashAggregate(keys=[a#N]) anywhere: the (a, b) count table is the
    # only aggregate over unigrams; a single-key aggregate on `a` means the
    # re-aggregate + join-back shape came back
    assert not re.search(r"HashAggregate\(keys=\[a#\d+[^,\]]*\]", p)


def test_rfm_materializes_user_grain_before_ntile_chain(spark, sf_dir):
    """rfm_user_segments (r13 #17): the user-grain table feeds three chained
    exact_ntile applications, each consuming its input twice (histogram +
    rank join-back) — un-materialized, the event-grain aggregate multiplies
    into up to 2^3 plan copies (32 parquet scans measured). The checkpoint
    must make every ntile consumer ride ONE materialized RDD: no parquet
    scan may survive in the final plan."""
    p = _explain(spark, CATALOG["rfm_user_segments"].fn(spark, sf_dir))
    assert "Scan parquet" not in p  # all consumers read the checkpointed RDD
    assert "Scan ExistingRDD" in p
