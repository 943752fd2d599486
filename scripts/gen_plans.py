"""Regenerate PLANS.md — captured physical-plan evidence for the flagship
queries, with per-plan annotations explaining why each shape holds at 100 TB.

    python scripts/gen_plans.py          # rewrites /root/repo/PLANS.md

Run after any change that can move a plan (new operator, shuffle removed,
join strategy changed) so the committed evidence matches the committed code.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

# (section title, catalog query name or callable key, annotation)
SECTIONS = [
    (
        "bulk_load (reference dataflow)",
        "__bulk_load__",
        "No Python node: the Murmur3 token is the JVM function `h2c_m3tok` (`jvm.MURMUR3_TOKEN`, "
        "jvm/Tokens.java), called in a `Project` that whole-stage codegen compiles with the scan "
        "(the final plan shows it as `*(n) Project`; test_avro.py asserts that). ONE routed "
        "`Exchange` sends each ring bucket to one of `min(reducers, cores)` partitions "
        "(`route_keys`), then the in-partition `Sort` gives the sink its append-only order. The key "
        "is TYPED: `_pk = unhex(lpad(hex(c_custkey)))` — the 8-byte big-endian Cassandra encoding of "
        "the bigint, built JVM-side, tokenized as real ring bytes (`_rowkey` stays as a display "
        "column only). The ring bucket is pure codegen'd int64 arithmetic (the split-division "
        "identity; a Decimal(38,0) form would run on the interpreted Decimal path).",
    ),
    (
        "q1_pricing_summary",
        "q1_pricing_summary",
        "`PushedFilters` on l_shipdate reach the parquet scan; `ReadSchema` pruned to 7 of 11 columns; "
        "partial/final `HashAggregate` pair (map-side combine).",
    ),
    (
        "q5_local_supplier_volume",
        "q5_local_supplier_volume",
        "Five-way dimensional join: the lineitem fact table NEVER shuffles — every dimension "
        "(orders/customer/supplier/nation/region) builds a `BroadcastExchange`, so the only exchanges "
        "are the aggregate pair and the presentation sort.",
    ),
    (
        "q3_shipping_priority (top-k)",
        "q3_shipping_priority",
        "`TakeOrderedAndProject` — per-partition heaps + merge, never a global sort for LIMIT queries.",
    ),
    (
        "minhash_lsh_pairs (dedup scale path)",
        "minhash_lsh_pairs",
        "ONE md5 per shingle: the 16 signature functions are affine combos of two digest chunks "
        "(universal hashing; g1 is carved from the 60-bit prefix by shift, g2 is the only second "
        "decode), min-folded inside a whole-stage-codegen'd `HashAggregate` with a `partial_min` "
        "map-side pass (NOT inside an interpreted higher-order-function lambda — measured 7x slower). "
        "Candidates come from in-bucket pair expansion after a `(band, bkey)` group: one shuffle on "
        "band keys, and the bucket-size cap (2..100) is enforced by a streaming `Window` COUNT + "
        "`Filter` BEFORE the `collect_list` (round 5 — a degenerate band signature shared by millions "
        "of docs is dropped by a spillable linear pass, never materialized in one aggregation "
        "buffer), NO self-join, nothing persisted.",
    ),
    (
        "embedding_topk_cosine (brute-force ANN baseline)",
        "embedding_topk_cosine",
        "The `rnk <= 5` filter over `row_number` is rewritten by Catalyst to `WindowGroupLimit` with a "
        "**Partial** pass BELOW the exchange — per-partition top-5 map-side. The query vectors "
        "broadcast; the corpus scan is the only large input; per-side norms are precomputed once.",
    ),
    (
        "pack_sequences (distributed prefix-sum)",
        "pack_sequences",
        "The running token offset never runs as one global window: the per-doc cumsum window is "
        "PARTITIONED by `_shard` (parallel), and only the tiny per-shard totals table (docs/64 rows) "
        "passes through a `SinglePartition` window before broadcasting back — `operators/prefixsum.py` "
        "recurses that step through coarser shard levels whenever a level would exceed ~1e6 rows (and "
        "falls back to a shuffle join past the broadcast threshold), so the shape below holds at any "
        "corpus size. Shard and sequence ids use integer `div` (exact at any id).",
    ),
    (
        "decontamination_overlap (broadcast benchmark set)",
        "decontamination_overlap",
        "The benchmark-membership predicate pushes into BOTH parquet scans (`DataFilters` on the md5 "
        "expression). Shingle dedup is `array_distinct` IN the row (per-doc distinctness is row-local "
        "— round 4; the earlier global `.distinct()` shuffled the exploded corpus), and membership is "
        "checked on 60-bit int64 hashes against the benchmark set's `BroadcastExchange` — so the "
        "corpus side has NO shuffle at all between scan and the per-doc aggregate (the narrow-scan "
        "spread repartition disappears on any real multi-split corpus; see `_spread_docs`).",
    ),
    (
        "ngram_jaccard_pairs (single-corpus-pass similarity)",
        "ngram_jaccard_pairs",
        "ONE corpus pass: the per-doc full distinct-shingle count is embedded in the explode's struct "
        "(`inline(transform(shs, x -> struct(x, size(shs))))` — the array stays a materialized column), "
        "one aggregate on the 60-bit hash buckets the corpus, and buckets of 2..50 docs expand ordered "
        "pairs in-row carrying both counts — with the bucket cap enforced by a window COUNT before the "
        "collect (round 5, hot-shingle safe). No self-join, no per-doc-count branch (lambda-bearing "
        "subtrees never ReuseExchange — the prior form planned 13 exchanges over three corpus passes; "
        "this plans 4 over one). The only joins are the final candidate-sized text lookups for the "
        "levenshtein verify.",
    ),
    (
        "embedding_ivf_topk (cell-probed ANN)",
        "embedding_ivf_topk",
        "Index build is ONE ArrowEvalPython pass (whole-batch numpy nearest-centroid, bit-exact vs the "
        "quantized oracle) — the cell is a plain column on the corpus scan, no explode, no centroid "
        "join, no aggregation. The probed query cells broadcast; per-query top-k truncates map-side "
        "via WindowGroupLimit.",
    ),
    (
        "exact_substring_spans (duplicated-span marking)",
        "exact_substring_spans",
        "Skew-safe (round 6): the rolling-hashed gram table materializes ONCE (lazy DISK_ONLY "
        "localCheckpoint — `Scan ExistingRDD` in both branches, no SQL cache, no pool contention with "
        "the aggregates), duplicated positions come from a `groupBy(h)` min/max (map-side "
        "`partial_min`/`partial_max` collapse a hot gram per mapper BEFORE its exchange) joined back "
        "on h. At fixture scale the dup-flag side broadcasts (map-side marking, zero gram shuffle); "
        "at production scale its stats grow with the corpus, the planner falls back to a shuffled "
        "join, and AQE can SPLIT the hot-h partition — either shape avoids the round-5 "
        "`Window.partitionBy(h)` straggler, whose single linear task per hot gram could not be split "
        "at any scale (probed: 6.7M docs, hot-gram df=2.01M, heaviest stage max/median task time "
        "1.00). The gaps-and-islands window and both aggregates still ride the `(doc_id, isdup)` "
        "shuffle.",
    ),
    (
        "chunk_documents (map-only 1->N)",
        "chunk_documents",
        "Chunk starts come from a `sequence()` expression and the 1->N explode is codegen'd `Generate` "
        "— NOTHING shuffles until the presentation sort. At 100 TB chunking is a pure map stage.",
    ),
    (
        "curate_corpus (composed curation chain)",
        "curate_corpus",
        "The five composed stages in ONE final plan — round 6 removed the double execution: the "
        "exact-dedup SURVIVORS arrive as `Scan ExistingRDD` (DISK_ONLY localCheckpoint populated once, "
        "by the first connected-components job at construction), so the returned plan contains NO "
        "keep-first `row_number` window and the quality+dedup prefix cannot re-run per action. The "
        "near-dup losers arrive as a second small `Scan ExistingRDD` (the eagerly-materialized CC "
        "labels) anti-joined by broadcast, the benchmark shingle set broadcasts into the decontam "
        "gate, and packing's `_shard`-partitioned prefix-sum windows close the chain. No "
        "BatchEvalPython, no cartesian, nothing in the SQL cache.",
    ),
    (
        "rag_chunk_retrieval_md5 (chunk -> embed -> retrieve)",
        "rag_chunk_retrieval_md5",
        "The full RAG index build in one plan: chunking is a codegen'd `Generate` (map-only 1->N), "
        "each chunk's embedding is ONE map-side-combined `HashAggregate` over the exploded words "
        "(the 64 conditional sums of operators/embed.py — a single exchange keyed by the "
        "(doc_id, chunk_id) struct), the tiny query side broadcasts, and the per-query top-5 truncates map-side via "
        "`WindowGroupLimit` before the rank exchange. The chunk text exists only between the "
        "`Generate` and the embed explode — never materialized corpus-wide.",
    ),
    (
        "select_token_budget (greedy budget fill)",
        "select_token_budget",
        "The running token total of the quality-descending order is the distributed prefix-sum, not "
        "an unpartitioned cumsum: the per-doc window is PARTITIONED by the quality-rank key's "
        "`_shard`, only the per-shard totals (a tiny table) pass a `SinglePartition` window, and the "
        "bases broadcast back. The quality score and its integer ordering key are pure map-side "
        "column arithmetic on the scan.",
    ),
    (
        "dsir_importance_weights (importance resampling)",
        "dsir_importance_weights",
        "The target/raw distribution pair is ONE partial/final `HashAggregate` pair over the exploded "
        "words, collapsing to 256 rows per mapper (the conditional target count rides the same pass "
        "— the corpus never shuffles for the model fit); the 1-row totals and the 256-row log-ratio "
        "model come back as `BroadcastExchange`s, so scoring is a second corpus scan + a per-doc "
        "map-side-combined aggregate. The global top-100 is `TakeOrderedAndProject` (per-partition "
        "k-row heaps, one merge — never a corpus-wide sort), and the rank window sees only the "
        "k = 100 survivors.",
    ),
    (
        "dedup_against_reference (cross-corpus dedup)",
        "dedup_against_reference",
        "Only CROSS pairs are ever generated: both sides' band keys union under a side marker into "
        "ONE capped-bucket pass (the `_df >= 2` window-count gate precedes the collect, bounding the "
        "COMBINED bucket — a boilerplate band key shared by millions of reference docs is dropped, "
        "never materialized), the in-row expansion filters new-side x ref-side (<= cap^2 per bucket), "
        "and the exact check is a distinct-reference-hash semi join (the reference never carries text "
        "past the hash). Jaccard verify rides the shared melted one-join (`verified_jaccard`) over "
        "the union of the two set tables.",
    ),
    (
        "decontamination_by_benchmark (N suites, one scan)",
        "decontamination_by_benchmark",
        "All suites fold into ONE (h, in_suite...) membership table grouped by h and BROADCAST, so "
        "every suite resolves in the same map-side probe — never one corpus scan per suite, and a "
        "shingle present in several suites cannot amplify rows (the probe matches at most one "
        "membership row). The corpus is never shuffled before the per-doc aggregate.",
    ),
    (
        "event_funnel_conversion (ordered funnel)",
        "event_funnel_conversion",
        "Each step is a per-user aggregate chained by an equi-join ON the same user_id key — after "
        "the first exchange the join output keeps hashpartitioning(user_id), so the later steps' "
        "aggregates add no corpus-wide exchange beyond their own filtered scan slice; per-user "
        "state is ONE timestamp per step (min), never a collected event list. The three 1-row "
        "counts fold via BroadcastNestedLoopJoin over single rows (constant-sized).",
    ),
    (
        "funnel_time_to_convert (histogram order statistics)",
        "funnel_time_to_convert",
        "Durations quantize to int64 minutes via integral `div` of epoch microseconds (exact — "
        "never a double division whose rounding could cross a minute boundary differently per "
        "engine), and the median/p90 come from the value HISTOGRAM: the only unpartitioned window "
        "runs over #distinct-minutes rows, so a million converters cannot create a single-task "
        "window stage.",
    ),
    (
        "corpus_stats_report (histogram order statistics)",
        "corpus_stats_report",
        "EXACT median/p90 without sorting the corpus: the corpus-sized work is the "
        "`(source, n_chars)` histogram aggregate (partial/final `HashAggregate` pair, map-side "
        "combined), and the sort window runs over the HISTOGRAM (#sources x #distinct lengths rows) "
        "— so a corpus where one source dominates develops no single-task window stage (the "
        "`--hot-source` probe holds ~1M docs/s with ONE source at 2M docs). The vocabulary count "
        "spreads on (source, word); the share window runs over #sources rows.",
    ),
    (
        "gopher_line_rules (map-side line heuristics — round 7)",
        "gopher_line_rules",
        "Pure whole-stage-codegen column arithmetic over ONE scan: the only exchanges are the "
        "presentation pair — ONE hash barrier directly under the output ORDER BY's "
        "rangepartitioning (round 10, plans/present.py: without it the range sampler re-ran the "
        "whole map-only compute), map-only below it (plan-asserted in tests; the "
        "c4_quality_filter / bpe_token_counts / gopher_paragraph_rules siblings share the "
        "shape). Line splitting, bullet/ellipsis classification and the duplicate-line "
        "fractions are all array expressions inside the same codegen stage — no UDF, no shuffle, "
        "embarrassingly parallel at any corpus size (848k multi-line docs/s at the 1M-doc probe).",
    ),
    (
        "session_top_paths (Sankey census — rounds 7-8)",
        "session_top_paths",
        "The session paths ride the SAME user_id window partitioning as sessionization (bounded "
        "by one user's events — never a global sort). Round 8 bounds the AGGREGATION STATE: a "
        "row_number over (user_id, session_no) filters to the first 5 events BEFORE the "
        "collect_list — Catalyst pushes it into a `WindowGroupLimit` (each sort partition "
        "truncates per session map-side), so a bot emitting one endless session can no longer "
        "materialize every event in one agg buffer; the window adds NO exchange (hash(user_id) "
        "already clusters the key). The path census is a partial/final `HashAggregate` pair on "
        "the path string; the top-20 is `TakeOrderedAndProject`; the share denominator is a "
        "1-row `BroadcastNestedLoopJoin` count-fold whose census subtree AQE reuses "
        "(`ReusedExchange` — scan+sessionize run once). The only unpartitioned Window ranks "
        "the <= 20 survivors.",
    ),
    (
        "engagement_dau_wau (exact sliding distinct — round 7)",
        "engagement_dau_wau",
        "The corpus collapses to DISTINCT (user, day) pairs first (one exchange, map-side "
        "combined); the trailing 7-day window is a codegen'd `Generate` (map-only 1->7 explode "
        "of the PAIRS, not the events) joined to the broadcast #days-sized active-day list — "
        "exact sliding distinct WITHOUT a range self-join of the corpus; the distinct-user "
        "count per day is the standard two-phase expand aggregate. 1.85M events/s at the "
        "5M-event probe.",
    ),
    (
        "quality_classifier_score (learned scorer — round 8)",
        "quality_classifier_score",
        "The CCNet/fastText-style learned quality scorer with the committed fixture weights: "
        "the 68-dim features are the hashed-BoW embed aggregate (one map-side-combined "
        "HashAggregate over exploded words) joined on doc_id to per-doc array-lambda stats, "
        "and the margin is dot(features, literal weights) + bias — a pure column expression, "
        "NO broadcast variable, no Python, zero additional shuffle. The measured shape "
        "decision (fusing the stats into the embed aggregate LOSES 10-15%: per-word stat "
        "columns widen every exploded row) is recorded in the featurizer docstring. The "
        "call-time-fit twin adds O(iters) scans each collecting dims+2 int64-quantized "
        "gradient scalars — the model, never data rows.",
    ),
    (
        "rag_mmr_rerank_md5 (diversity rerank — round 8)",
        "rag_mmr_rerank_md5",
        "MMR over the retrieval's top-10: everything heavy is upstream (map-only chunking, "
        "ONE chunk-grain embed aggregate, broadcast query side, WindowGroupLimit top-C); the "
        "greedy selection itself is one `FlatMapGroupsInPandas` over per-query groups of <= "
        "10 rows — the sanctioned applyInPandas shape for an inherently sequential per-query "
        "loop, a few KB per Arrow batch, parallel across queries. All comparisons run on "
        "floor(cos*1e6+0.5) int64-quantized similarities with sequential double dots, so the "
        "DuckDB recursive-CTE twin reproduces the greedy trajectory exactly.",
    ),
    (
        "ref_perplexity_buckets (reference-LM terciles — round 8)",
        "ref_perplexity_buckets",
        "The CCNet recipe: bigram MLE fit on the reference split (two cascaded map-side-"
        "combined aggregations over the hash-once position table), new docs scored through "
        "one AQE-splittable left equi-join + per-doc aggregate (reference-unseen transitions "
        "floored), then per-language terciles WITHOUT a corpus-sized window: the rank comes "
        "from a cumulative window over the small (lang, rounded-score) HISTOGRAM plus "
        "tie-local row_numbers, and closed-form ntile arithmetic assigns the bucket — every "
        "Window in the plan is histogram- or tie-bounded (the oracle uses plain NTILE; the "
        "ranks are provably identical). Position and score tables each materialize once "
        "(two consumers each).",
    ),
    (
        "exact_substring_word_spans (maximal duplicated spans — round 9)",
        "exact_substring_word_spans",
        "Shares the gram table + skew-safe dup marking with exact_substring_spans (one "
        "`Scan ExistingRDD` per branch, map-side-combined `groupBy(h)` min/max, AQE-splittable "
        "join-back; dup-flag side broadcasts at fixture scale, shuffles at corpus scale). The "
        "interval merge is ONE `hashpartitioning(doc_id)` exchange carrying BOTH windows (the "
        "LAG and the running island SUM share partitioning+ordering, so the second Window rides "
        "the first's sort) and the per-(doc, island) min/max aggregate rides the SAME "
        "partitioning — no extra exchange between islanding and span extraction. The "
        "content-digest join re-scans documents once (map-only, filters pushed); at fixture "
        "scale the docs side broadcasts, at corpus scale it degrades to a doc_id sort-merge "
        "join of spans (small) vs (doc_id, ws) — never a corpus-wide window, never a quadratic "
        "stage.",
    ),
    (
        "exact_substring_scrub (keep-first-occurrence dedup — round 9)",
        "exact_substring_scrub",
        "The scrub ACTION the span report feeds (Lee et al. keep-first semantics at window "
        "granularity): shared gram table, ONE map-side-combined min-per-gram aggregate "
        "(broadcast at fixture scale, shuffled+AQE-splittable at corpus scale), the shared "
        "LAG-islands merge riding ONE doc_id exchange with the per-(doc, island) min/max AND "
        "the per-doc span-list collect riding the SAME partitioning (three aggregates, zero "
        "extra exchanges), then one doc_id join against the re-scanned documents and a "
        "MAP-ONLY index-aware higher-order-function rewrite — the kept text never rides a "
        "word-grain explode and no shuffle carries text.",
    ),
    (
        "winnow_fingerprints (MOSS fingerprint report — round 10)",
        "winnow_fingerprints",
        "Winnowing selection entirely INSIDE row expressions: the gram-hash array is LET-BOUND "
        "(`transform(array(<hs>), hs -> ...)` — CollapseProject would otherwise inline the alias "
        "into the selection lambdas and re-evaluate the md5 gram hashing per window, measured "
        "2-4x), each window takes a one-pass struct-min, and the per-doc digest folds over the "
        "selected array in the same projection. No explode of unselected grams, no "
        "corpus-grain rows at all; the only exchanges are the presentation pair "
        "(plans/present.py barrier + ORDER BY).",
    ),
    (
        "winnow_candidate_pairs (MOSS matching stage — round 10)",
        "winnow_candidate_pairs",
        "Selected fingerprints (map-only, as above) group by hash through the capped-bucket gate: "
        "the streaming Window COUNT + Filter precede the `collect_list` (plan-asserted), so a "
        "boilerplate passage's bucket drops before any aggregation buffer fills; pairs expand "
        "only inside surviving 2..100-doc buckets and the per-pair shared count is one "
        "partial/final HashAggregate pair.",
    ),
    (
        "bloom_decontamination (fixed-size contamination probe — round 10)",
        "bloom_decontamination",
        "The probe side is a CONSTANT-FOLDED literal array (the 2^18-bit filter as 4229 int64 "
        "words, built by one map-side-combined `bit_or` aggregate over the tiny benchmark side "
        "and collected as bounded model rows): the corpus scan evaluates 7 shift/mod/mask "
        "expressions per shingle in whole-stage codegen and feeds ONE partial/final per-doc "
        "aggregate — nothing on any executor scales with the benchmark suite.",
    ),
    (
        "rag_retrieval_ann (hyperplane-LSH RAG retrieval — round 10)",
        "rag_retrieval_ann",
        "The chunk side is coded AND scored in one scan (the vector rides the code projection "
        "via `_with_code keep=`): `BroadcastHashJoin` on the code with the query probe table "
        "(queries x Hamming-radius-3 masks) as BuildRight, exact cosine only on bucket-matched "
        "candidates, partial `WindowGroupLimit` before the single tiny top-k exchange on q_id. "
        "Zero chunk-side shuffles beyond the embed aggregate itself.",
    ),
    (
        "wav_audio_features (WAV/PCM audio round-trip — round 12)",
        "wav_audio_features",
        "No Python node: the WAV bytes (`unhex` of the little-endian header "
        "fields and a `transform` over the interleaved samples) and the JDK's "
        "decode + integer features (`h2c_audio_features`, javax.sound.sampled) "
        "are one `Project` of Catalyst and Java functions, between the `Project` "
        "that names each document's frame and channel counts and the one that "
        "unpacks the feature struct, over a scan pruned to doc_id. Samples never "
        "exist as rows, and the only exchange is the presentation sort.",
    ),
    (
        "jpeg_image_features (baseline-JPEG round-trip — round 12)",
        "jpeg_image_features",
        "No Python node: the flat gray image (`unhex(repeat(...))` behind a P5 "
        "header), the JDK's JPEG encode (`h2c_jpeg_encode`) and decode "
        "(`h2c_media_decode`) are one `Project` of Java functions over a scan "
        "pruned to doc_id, pixels never exist as rows, and the flatness check is "
        "a Catalyst `raise_error`; the only exchange is the presentation sort. "
        "The oracle predicts the decoded level by closed-form DC-quantization "
        "integer math.",
    ),
    (
        "window_rank_customers (top-k-first rank family — rewritten round 13)",
        "window_rank_customers",
        "The r13 rewrite: the naive six-function full-partition window (3.6x DuckDB "
        "per-row at the sf1 probe) is replaced by a PARTIAL `WindowGroupLimit` top-3 "
        "(each map task ships <= 3 rows per nation — the exchange carries ~nothing at "
        "any scale), a 25-row count aggregate, and a broadcast-threshold tie "
        "neighborhood aggregate; rank/dense_rank/percent_rank/cume_dist/ntile are "
        "reconstructed exactly on the 75-row subset. Probe verdict: 0.115 s/Mrow — "
        "faster per row than DuckDB (0.18).",
    ),
    (
        "gif_image_features (GIF/LZW lossless round-trip — round 13)",
        "gif_image_features",
        "Same shape as the JPEG row: the index raster and palette are built by "
        "Catalyst `transform`/`repeat`/`unhex`, then the JDK's LZW encode "
        "(`h2c_gif_encode`) and the decode + de-interlace + composite "
        "(`h2c_media_decode`) run in one `Project` of Java functions, and the "
        "row weighting is an `aggregate` over the decoded row sums; no Python "
        "node, and the only exchange is the presentation sort. Being lossless, "
        "the oracle predicts the row-weighted RGB sum exactly with no excluded "
        "cases.",
    ),
    (
        "semantic_dedup (SemDeDup, k-means cells + collapse — round 11)",
        "semantic_dedup",
        "Cell assignment is ONE `ArrowEvalPython` on the corpus scan (the quantized numpy "
        "batch — no explode, no centroid join). The exact-duplicate collapse is a single "
        "`Window` (min vec_id over the embedding value); the pair stage joins group "
        "REPRESENTATIVES on the cell id only (`SortMergeJoin`/`ShuffledHashJoin` keyed on "
        "cell, AQE skew-splittable), so identical-vector mass never reaches the cosine. "
        "Everything after the dup-rep distinct is a small left join back to per-vector grain.",
    ),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def main() -> int:
    from hdfs2cass_spark.session import get_session
    from hdfs2cass_spark.plans import CATALOG

    # fixed parallelism, so the exchange counts do not follow the host's cores
    spark = get_session("gen-plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plan evidence",
        "",
        f"Captured `.explain` output at {SF} — REGENERATED by `python scripts/gen_plans.py`;",
        "rerun it after any change that can move a plan. What to look for is annotated per",
        "plan; ARCHITECTURE.md explains why these shapes hold at 100 TB.",
        "",
    ]
    for title, key, note in SECTIONS:
        if key == "__bulk_load__":
            from hdfs2cass_spark.sinks.pipeline import bulk_load
            from hdfs2cass_spark.sources import load_table

            df = bulk_load(
                load_table(spark, SF, "customer"),
                "cql://h/ks/customer?reducers=8",
                rowkey="c_custkey",
                now_ms=42000,
            )
        else:
            df = CATALOG[key].fn(spark, SF)
        plan = _plan(df)
        # keep the evidence readable: clip pathological codegen lines
        lines = [ln if len(ln) <= 2000 else ln[:2000] + " …]" for ln in plan.splitlines()]
        out += [f"## {title}", "", note, "", "```", *lines, "```", ""]
        print(f"captured {title}", file=sys.stderr)

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
