"""Scale stress run: the three hot paths at ~40x the sf0.1 fixture volume.

    python scripts/stress.py [--docs 200000] [--vecs 200000] [--rows 5000000]

Generates deterministic synthetic data (seeded, no fixture dependency), runs:
  - bulk routing: typed-key token shuffle + in-partition sort (the reference
    dataflow) over --rows rows
  - near-dup dedup: shingle -> xxhash64 minhash -> banded LSH -> capped
    in-bucket pair expansion over --docs documents
  - ANN: brute-force cosine top-5 for 5 queries over --vecs 64-dim vectors

Prints ONE JSON line with rows/s per path. This is evidence the shapes hold
past the fixture scale — partition counts, memory, and skew behavior at 40x,
not correctness (the oracle gate covers that at sf0.01).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--vecs", type=int, default=200_000)
    ap.add_argument("--rows", type=int, default=5_000_000)
    ap.add_argument(
        "--freq-skew",
        action="store_true",
        help="run ONLY the gram-frequency-skew probe: --docs documents, ~30%% "
        "carrying one identical boilerplate sentence (a df~0.3*docs hot gram "
        "— the adversarial shape the capped_buckets gate defends against)",
    )
    ap.add_argument(
        "--events",
        type=int,
        default=0,
        metavar="N",
        help="run ONLY the events-family probe at N synthetic events "
        "(sessionize / as-of join / tumbling+sliding windows — the "
        "window-heavy analytics the sf0.1 fixture is too small to stress)",
    )
    ap.add_argument(
        "--hot-source",
        action="store_true",
        help="run ONLY the grouping-key-collapse probe: --docs documents all "
        "under ONE source and ONE lang — the corpus-report histogram "
        "order-statistics and the temperature sampler's tiny-agg broadcast "
        "must not develop a single-task stage when their grouping keys "
        "collapse to one value",
    )
    ap.add_argument(
        "--stream-batches",
        type=int,
        default=0,
        metavar="N",
        help="run ONLY the long-stream curation probe: N single-file "
        "micro-batches of (--docs / N) docs each through stream_curate with "
        "index compaction firing every 8 batches; reports per-batch trigger "
        "times (early-vs-late flatness is the evidence per-batch cost no "
        "longer grows with stream age) and the bounded index dir counts",
    )
    ap.add_argument(
        "--keeper-probe",
        action="store_true",
        help="run ONLY the keeper-scan pruning A/B: grow a --docs-row exact "
        "dedup keeper, then time the per-batch keep-first join for a SMALL "
        "trigger against (a) the round-6 full keeper scan and (b) the "
        "round-7 bucket-pruned scan — reports files touched and wall-clock "
        "for each (the pruned side must read a trigger-sized sliver)",
    )
    ap.add_argument(
        "--line-rules",
        action="store_true",
        help="run ONLY the Gopher line-rule probe over --docs MULTI-LINE "
        "synthetic documents (~10%% pathological per rule) — the fixture "
        "corpus has no newlines, so this is where the line family meets "
        "non-degenerate data at scale",
    )
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from hdfs2cass_spark.session import get_session
    from hdfs2cass_spark.sinks.pipeline import bulk_load

    # the UI is normally off (session.py default); the freq-skew probe needs
    # its REST API for per-task durations of the hot stage
    spark = get_session(
        "stress", extra_conf={"spark.ui.enabled": "true"} if args.freq_skew else None
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}

    def run(label, df, n_rows):
        df.write.mode("overwrite").format("noop").save()  # warm plan + JIT
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        out[label + "_sec"] = round(dt, 2)
        out[label + "_rows_per_sec"] = round(n_rows / dt)
        print(f"# {label}: {dt:.2f}s  ({n_rows / dt:,.0f} rows/s)", file=sys.stderr)

    if args.keeper_probe:
        # --- keeper-scan pruning A/B (round 7): same keep-first join, same
        # trigger, full scan vs bucket-pruned scan of the same keeper ---
        import shutil as _sh

        from hdfs2cass_spark.streaming.curate import _exact_losers, _hashes, _min_keeper
        from hdfs2cass_spark.streaming.index import append, batch_dir, compact, read_split

        tmp = "/tmp/stress_keeper"
        _sh.rmtree(tmp, ignore_errors=True)
        p = f"{tmp}/exact"
        n = args.docs
        idx = spark.range(0, n).select(
            F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("h")
        )
        append(idx, p, 0)
        # rows_per_bucket sized so the bucket count lands at ~2048 for the
        # default 2M-row probe — at 100 TB the production default (4M rows
        # ~ 100-300 MB buckets) yields the same touched-fraction math
        compact(
            spark, p, 1, fold=_min_keeper, bucket_cols=["h"],
            rows_per_bucket=max(1, n // 2048),
        )
        # trigger: 200 docs, half exact duplicates of indexed texts — the
        # arriving side of a steady-state micro-batch
        trig = spark.range(n, n + 200).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, F.pmod(F.col("id"), n // 2))
            .otherwise(F.col("id"))
            .cast("string")
            .alias("text"),
        )
        append(_hashes(trig), p, 1)  # the stream appends before it reads
        ah = spark.read.parquet(batch_dir(p, 1))  # ...then reads back

        def files_of(df):
            return df.select(F.input_file_name()).distinct().count()

        def ab(label, prune):
            keeper, recent = read_split(spark, p, prune=prune)
            out[f"keeper_files_{label}"] = files_of(keeper)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                k2, r2 = read_split(spark, p, prune=prune)
                n_losers = _exact_losers(k2, r2, ah).count()
                best = min(best, time.perf_counter() - t0)
            out[f"keeper_{label}_sec"] = round(best, 3)
            return n_losers

        full_losers = ab("full", None)
        pruned_losers = ab("pruned", (ah, ["h"]))
        assert full_losers == pruned_losers == 100, (full_losers, pruned_losers)
        out["keeper_rows"] = n
        out["keeper_trigger_docs"] = 200
        out["keeper_speedup"] = round(
            out["keeper_full_sec"] / out["keeper_pruned_sec"], 2
        )
        print(
            f"# keeper A/B @ {n} rows, 200-doc trigger: files "
            f"{out['keeper_files_full']} -> {out['keeper_files_pruned']}, "
            f"sec {out['keeper_full_sec']} -> {out['keeper_pruned_sec']} "
            f"({out['keeper_speedup']}x)",
            file=sys.stderr,
        )
        print(json.dumps(out))
        return 0

    if args.line_rules:
        # --- Gopher line-rule probe over MULTI-LINE docs (the fixture has
        # none): ~30% pathological, one failure mode per planted class ---
        from hdfs2cass_spark.plans.lines import line_rules_df

        n = args.docs
        base_lines = (
            "transform(sequence(1, 8), i -> concat('line ', CAST(pmod(hash(id * 17 + i), 1000) AS STRING), ' of prose text'))"
        )
        docs = spark.range(0, n).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 10 == 1,  # bullet wall
                F.expr("array_join(transform(sequence(1, 8), i -> concat('- item ', CAST(i AS STRING))), '\\n')"),
            )
            .when(
                F.col("id") % 10 == 2,  # ellipsis spam
                F.expr("array_join(transform(sequence(1, 8), i -> concat('teaser ', CAST(i AS STRING), '...')), '\\n')"),
            )
            .when(
                F.col("id") % 10 == 3,  # duplicate lines
                F.expr("array_join(transform(sequence(1, 8), i -> 'the same line again'), '\\n')"),
            )
            .otherwise(F.expr(f"array_join({base_lines}, '\\n')"))
            .alias("text"),
        )
        run("line_rules", line_rules_df(docs), n)
        kept = line_rules_df(docs).filter("keep").count()
        out["line_rules_kept_frac"] = round(kept / n, 3)
        assert 0.65 < out["line_rules_kept_frac"] < 0.75  # 3 of 10 classes drop
        print(json.dumps(out))
        return 0

    if args.stream_batches:
        # --- long-stream curation probe: does per-batch cost stay flat? ---
        # Before round 6 the accumulating indexes were re-read (one directory
        # per prior batch) and re-aggregated from scratch every micro-batch —
        # O(total index) per batch, quadratic over the stream. With
        # compaction the late batches must cost what the early ones did.
        import glob as _gl
        import shutil as _sh

        nb = args.stream_batches
        per = max(1, args.docs // nb)
        tmp = "/tmp/stress_stream"
        _sh.rmtree(tmp, ignore_errors=True)
        flat = f"{tmp}/flat"
        os.makedirs(flat)
        words = F.expr(
            "transform(sequence(1, 30), i -> concat('w', pmod(hash(id * 31 + i), 5000)))"
        )
        for b in range(nb):
            # doc_id ranges per file: batch order == doc_id order; ~2% exact
            # duplicates of one shared text exercise the keeper fold
            docs = spark.range(b * per, (b + 1) * per).select(
                F.col("id").alias("doc_id"),
                F.when(
                    F.col("id") % 50 == 7,
                    F.lit("shared duplicate text body one two three four five six"),
                )
                .otherwise(F.concat_ws(" ", words))
                .alias("text"),
            )
            docs.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/part{b}")
            _sh.copy(
                sorted(_gl.glob(f"{tmp}/part{b}/*.parquet"))[0],
                f"{flat}/{b:05d}.parquet",
            )
        bench = spark.createDataFrame([("no benchmark shingle here",)], "s string")
        from hdfs2cass_spark.streaming.curate import stream_curate
        from hdfs2cass_spark.streaming.decontam import stream_documents
        from hdfs2cass_spark.streaming.index import n_subdirs

        idx, sink, ck = f"{tmp}/idx", f"{tmp}/out", f"{tmp}/ck"

        # q.recentProgress is CAPPED at the last 100 updates
        # (spark.sql.streaming.numRecentProgressUpdates), so for the long
        # streams this probe exists to measure it would silently relabel
        # mid-stream batches as "early" and fake a flat ratio. A listener
        # sees every progress event, uncapped.
        from pyspark.sql.streaming.listener import StreamingQueryListener

        class _ProgressCollector(StreamingQueryListener):
            def __init__(self):
                self.events = []

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                self.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        collector = _ProgressCollector()
        spark.streams.addListener(collector)
        t0 = time.perf_counter()
        try:
            q = stream_curate(
                stream_documents(spark, flat),
                bench,
                idx,
                sink,
                ck,
                available_now=True,
                band_cap=100,
                compact_every=8,
                packed_path=f"{tmp}/packed",  # full chain incl. sequence packing
            )
            q.awaitTermination(3600)
            wall = time.perf_counter() - t0
            # listener delivery is async — give stragglers a moment to land
            deadline = time.perf_counter() + 10
            while time.perf_counter() < deadline:
                seen = len(collector.events)
                time.sleep(0.5)
                if len(collector.events) == seen:
                    break
            # recentProgress (last <=100) as a backstop; batchId-keyed dict
            # dedupes the overlap
            prog = collector.events + [json.loads(p.json) for p in q.recentProgress]
        finally:
            spark.streams.removeListener(collector)
        secs = {
            p["batchId"]: p["durationMs"]["triggerExecution"] / 1000.0
            for p in prog
            if p.get("numInputRows", 0) > 0
        }
        done = sorted(secs)
        # skip the JIT-cold batches only when enough remain; never slice to []
        skip = 2 if len(done) > 7 else 0
        early = [secs[i] for i in done[skip:skip + 5]] or [secs[i] for i in done[:1]]
        late = [secs[i] for i in done[-5:]]
        # steady-state late cost: the batches that did NOT also run a
        # compaction fold (that amortized cost lands in every 8th trigger)
        late_nc = [secs[i] for i in done[-12:] if i % 8][-5:] or late
        out["stream_batches"] = len(done)
        out["stream_docs_per_batch"] = per
        out["stream_wall_sec"] = round(wall, 2)
        out["stream_docs_per_sec"] = round(nb * per / wall, 1)
        out["stream_batch_sec_early_avg"] = round(sum(early) / len(early), 2)
        out["stream_batch_sec_late_avg"] = round(sum(late) / len(late), 2)
        out["stream_late_over_early"] = round(
            (sum(late) / len(late)) / (sum(early) / len(early)), 2
        )
        out["stream_batch_sec_late_steady_avg"] = round(sum(late_nc) / len(late_nc), 2)
        out["stream_late_steady_over_early"] = round(
            (sum(late_nc) / len(late_nc)) / (sum(early) / len(early)), 2
        )
        out["stream_batch_secs"] = [round(secs[i], 2) for i in done]
        for sub in ("exact", "sig", "bands", "cnt"):
            out[f"stream_dirs_{sub}"] = n_subdirs(spark, f"{idx}/{sub}")
        print(
            f"# stream: {len(done)} batches x {per} docs, wall {wall:.0f}s; "
            f"batch sec early {out['stream_batch_sec_early_avg']} -> late "
            f"{out['stream_batch_sec_late_avg']} "
            f"(ratio {out['stream_late_over_early']}); dirs "
            + ", ".join(f"{s}={out['stream_dirs_' + s]}" for s in ("exact", "sig", "bands", "cnt")),
            file=sys.stderr,
        )
        print(json.dumps(out))
        return 0

    if args.events:
        # --- events-family probe: window-heavy analytics at scale ---
        # ~N/1000 users x 1000 events each over ~35 days; 10% clicks (the
        # as-of build side), microsecond-jittered timestamps so session gaps
        # exercise the full-precision (us) gap test, not whole seconds.
        n = args.events
        ev = spark.range(n).select(
            F.col("id").alias("event_id"),
            # max(1, ...): 0 < n < 1000 would otherwise divide by zero
            (F.col("id") % max(1, n // 1000)).alias("user_id"),
            F.expr(
                "timestamp_micros(CAST(812505600000000 + (id DIV 1000) * 3000000000 "
                "+ pmod(hash(id), 997) * 1000000 + pmod(hash(id * 7), 1000) AS BIGINT))"
            ).alias("ts"),
            F.expr(
                "element_at(array('click','view','scroll','purchase','hover', "
                "'focus','blur','load','unload','error'), "
                "CAST(pmod(hash(id * 13), 10) + 1 AS INT))"
            ).alias("event_type"),
            (F.pmod(F.hash(F.col("id") * 31), 10000) / 100.0).alias("value"),
            F.lit('{"k":1}').alias("props"),
        )
        tmp = "/tmp/stress_events"
        ev.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        from hdfs2cass_spark.plans.catalog import (
            asof_join_events,
            sessionize_events_batch,
            tumbling_window_events,
        )

        run("events_sessionize", sessionize_events_batch(spark, tmp), n)
        run("events_asof_join", asof_join_events(spark, tmp), n)
        run("events_windows", tumbling_window_events(spark, tmp), n)
        out["events"] = n
        print(json.dumps(out))
        return 0

    if args.hot_source:
        # --- grouping-key-collapse probe (late round 6): every doc in ONE
        # source and ONE lang. Before the histogram rewrite the corpus report
        # sorted the whole corpus in one per-source window task (416k docs/s
        # at 2M); the histogram form keeps corpus-sized work map-side (652k).
        words = F.expr(
            "transform(sequence(1, 30), i -> concat('w', pmod(hash(id * 31 + i), 500)))"
        )
        docs = spark.range(args.docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", words).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("src0").alias("source"),
        ).withColumn("n_chars", F.length("text").cast("int"))
        tmp = "/tmp/stress_hotsource"
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        from hdfs2cass_spark.plans.quality import (
            corpus_stats_report,
            gopher_quality_filter,
            lang_temperature_sample,
        )

        run("hot_source_stats_report", corpus_stats_report(spark, tmp), args.docs)
        run("hot_source_lang_sample", lang_temperature_sample(spark, tmp), args.docs)
        run("hot_source_gopher", gopher_quality_filter(spark, tmp), args.docs)
        out["docs"] = args.docs
        print(json.dumps(out))
        return 0

    if args.freq_skew:
        # --- gram-FREQUENCY skew probe (round-5): one boilerplate sentence in
        # ~30% of the corpus. Every boilerplate doc contributes the SAME
        # shingle hashes, band keys, and 8-gram window hashes, so the hot keys
        # have df ~ 0.3 * docs (~300k at 1M) — the shape that, before
        # capped_buckets, piled the full occurrence list into one aggregation
        # buffer. The length-skew probe (r4) covered 667x document LENGTH;
        # this covers key frequency. exact_substring_spans (round 6) marks
        # dups with a groupBy(h) min/max + join-back over a checkpointed gram
        # table: map-side combine collapses the hot gram per mapper and the
        # join-back partition is AQE-splittable — no single-task window
        # straggler remains. Probe at --docs 6700000 for a df>=2M hot gram.
        boiler = " ".join(f"bp{i}" for i in range(10))
        words = F.expr(
            "transform(sequence(1, 20), i -> "
            "concat('w', pmod(hash(id * 31 + i), 5000)))"
        )
        docs = spark.range(args.docs).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 10 < 3,
                F.concat(F.lit(boiler + " "), F.concat_ws(" ", words)),
            )
            .otherwise(F.concat_ws(" ", words))
            .alias("text"),
        )
        tmp = "/tmp/stress_skew"
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        from hdfs2cass_spark.plans.llm import (
            minhash_lsh_pairs_fast,
            ngram_jaccard_pairs,
        )
        from hdfs2cass_spark.plans.pipeline import (
            decontamination_overlap,
            exact_substring_spans,
        )

        run("skew_minhash_lsh", minhash_lsh_pairs_fast(spark, tmp), args.docs)
        run("skew_jaccard", ngram_jaccard_pairs(spark, tmp), args.docs)

        # substring spans: also record per-task skew of its heaviest stage via
        # the UI REST API — the direct evidence that the groupBy+join-back dup
        # marking left no dominant task (the old h-partitioned window put the
        # whole hot gram in ONE task; max/median task time exposed that)
        import urllib.request

        def _stages():
            base = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages?status=complete"
            ) as r:
                return json.load(r)

        before = {s["stageId"] for s in _stages()}
        run("skew_substring_spans", exact_substring_spans(spark, tmp), args.docs)
        new = [s for s in _stages() if s["stageId"] not in before]
        if new:
            worst = max(new, key=lambda s: s.get("executorRunTime", 0))
            base = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages/{worst['stageId']}/"
                f"{worst['attemptId']}/taskSummary?quantiles=0.5,1.0"
            ) as r:
                q = json.load(r)
            med, mx = q["executorRunTime"]
            out["substring_hot_stage_tasks"] = worst["numCompleteTasks"]
            out["substring_hot_stage_task_median_ms"] = round(med)
            out["substring_hot_stage_task_max_ms"] = round(mx)
            out["substring_hot_stage_max_over_median"] = round(mx / max(med, 1.0), 2)
            print(
                f"# substring hot stage: {worst['numCompleteTasks']} tasks, "
                f"task median {med:.0f}ms max {mx:.0f}ms "
                f"(ratio {mx / max(med, 1.0):.2f})",
                file=sys.stderr,
            )

        run("skew_decontamination", decontamination_overlap(spark, tmp), args.docs)

        # cross-corpus dedup under the same hot band keys: ~30% of BOTH
        # sides share the boilerplate-led signature, so the combined
        # (band, bkey) bucket is the hot key — the capped gate must drop it
        # before any collect and before the cap^2 in-row cross expansion
        from hdfs2cass_spark.plans.crossdedup import dedup_against_reference

        run("skew_cross_dedup", dedup_against_reference(spark, tmp), args.docs)
        out["docs"] = args.docs
        out["hot_gram_df"] = 3 * args.docs // 10
        print(json.dumps(out))
        return 0

    # --- bulk routing (typed bigint key) ---
    rows = spark.range(args.rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).alias("v1"),
        F.concat(F.lit("payload-"), F.col("id")).alias("v2"),
    )
    routed = bulk_load(rows, "cql://h/ks/stress?reducers=32", rowkey="k", now_ms=42)
    run("bulk_route", routed, args.rows)

    # --- near-dup dedup (xxhash64 production twin) ---
    # ~30-word docs from a small vocabulary; ~1% near-dup pairs by seeded id
    words = F.expr(
        "transform(sequence(1, 30), i -> "
        "concat('w', pmod(hash(id * 31 + i), 500)))"
    )
    docs = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", words).alias("text"),
    )
    tmp = "/tmp/stress_dir"
    docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    from hdfs2cass_spark.plans.llm import minhash_lsh_pairs_fast

    pairs = minhash_lsh_pairs_fast(spark, tmp)
    run("minhash_lsh", pairs, args.docs)

    # --- ANN brute-force cosine top-5 (5 queries x vecs) ---
    vec = F.expr(
        "transform(sequence(1, 64), i -> "
        "CAST(pmod(hash(id * 131 + i), 1000) AS FLOAT) / 1000.0)"
    )
    emb = spark.range(args.vecs).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    emb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    from hdfs2cass_spark.plans.llm import embedding_topk_cosine

    topk = embedding_topk_cosine(spark, tmp)
    run("ann_bruteforce", topk, args.vecs)

    # --- ANN IVF: sampled k-means fit + cell-probed top-5, recall vs brute ---
    # CLUSTERED corpus (32 centers + noise), the workload IVF exists for —
    # uniform-random vectors are its documented worst case (no cell structure
    # to exploit; measured recall 0.44 there, and brute force wins outright).
    from hdfs2cass_spark.operators.kmeans import fit_kmeans, quantized_assign_udf
    from hdfs2cass_spark.operators.kmeans import _ivf_dist_spark

    cvec = F.expr(
        "transform(sequence(1, 64), i -> CAST("
        "pmod(hash((id % 32) * 977 + i), 1000) / 1000.0"
        " + pmod(hash(id * 131 + i), 200) / 2000.0 AS FLOAT))"
    )
    cemb = spark.range(args.vecs).select(F.col("id").alias("vec_id"), cvec.alias("embedding"))
    cemb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    cemb = spark.read.parquet(f"{tmp}/embeddings.parquet")
    t0 = time.perf_counter()
    cents = fit_kmeans(cemb, k=16, iters=4, sample_fraction=0.05, init="spread")
    out["ivf_fit_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    assign = quantized_assign_udf(cents)
    nrm = "sqrt(aggregate({c}, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x))"
    ecell = cemb.select(
        "vec_id",
        "embedding",
        assign(F.col("embedding")).alias("cell"),
        F.expr(nrm.format(c="embedding")).alias("_en"),
    )
    structs = ", ".join(
        f"struct({_ivf_dist_spark('qe', c)} AS dist, {i} AS cell)"
        for i, c in enumerate(cents)
    )
    q = cemb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.expr(nrm.format(c="embedding")).alias("_qn"),
    )
    qcells = q.select(
        "q_id", "qe", "_qn",
        F.explode(F.expr(f"slice(array_sort(array({structs})), 1, 3)")).alias("pc"),
    ).select("q_id", "qe", "_qn", F.col("pc.cell").alias("cell"))
    # prenormed cosine: norms computed once per side, not per candidate row
    sim = F.expr(
        "aggregate(zip_with(qe, embedding, (x, y) -> CAST(x AS DOUBLE) * y), "
        "0D, (a, v) -> a + v) / (_qn * _en)"
    )
    from pyspark.sql.window import Window as W

    ivf = (
        F.broadcast(qcells)
        .join(ecell, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", sim.alias("sim"))
        .withColumn(
            "rnk",
            F.row_number().over(W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")),
        )
        .filter(F.col("rnk") <= 5)
    )
    ivf_pairs = {(r.q_id, r.vec_id) for r in ivf.collect()}
    out["ivf_search_sec"] = round(time.perf_counter() - t0, 2)
    from hdfs2cass_spark.plans.llm import embedding_topk_cosine as _bf

    bf_pairs = {(r.q_id, r.vec_id) for r in _bf(spark, tmp).collect()}
    out["ivf_recall_vs_brute"] = round(len(ivf_pairs & bf_pairs) / max(1, len(bf_pairs)), 3)
    print(
        f"# ann_ivf (clustered corpus): fit {out['ivf_fit_sec']}s, "
        f"search {out['ivf_search_sec']}s, recall {out['ivf_recall_vs_brute']}",
        file=sys.stderr,
    )

    # --- ANN hyperplane-LSH near-dup: dynamic planes + multiprobe + cap ---
    # Plant near-dup pairs (2i, 2i+1), twin = base + 0.15*noise (cosine ~0.989)
    # among centered pseudo-random noise vectors; measure wall time AND the
    # recall of the planted pairs — the evidence that cap-and-drop plus
    # multiprobe keeps recall while killing the in-bucket quadratic.
    n_planted = 500
    centered = "(CAST(pmod(hash(id * {salt} + i), 2001) AS DOUBLE) - 1000.0) / 1000.0"
    base = centered.format(salt=131)
    noise = centered.format(salt=977)
    planted_vec = F.expr(
        "transform(sequence(1, 64), i -> CAST("
        f"({base.replace('id', '(CAST(floor(id / 2) AS BIGINT))')})"
        f" + CAST(id % 2 AS DOUBLE) * 0.15 * ({noise}) AS FLOAT))"
    )
    planted = spark.range(2 * n_planted).select(F.col("id").alias("vec_id"), planted_vec.alias("embedding"))
    noise_vecs = spark.range(args.vecs - 2 * n_planted).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.expr(
            f"transform(sequence(1, 64), i -> CAST({base.replace('id', '(id + 1000000)')} AS FLOAT))"
        ).alias("embedding"),
    )
    corpus = planted.unionAll(noise_vecs)
    from hdfs2cass_spark.operators.hyperplane import derive_n_planes, hyperplane_near_dup_pairs

    t0 = time.perf_counter()
    pairs = hyperplane_near_dup_pairs(corpus, threshold=0.9, multiprobe=1)
    found_planted = pairs.filter(
        (F.col("id_a") % 2 == 0) & (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") < 2 * n_planted)
    ).count()
    dt = time.perf_counter() - t0
    recall = found_planted / n_planted
    out["ann_lsh_sec"] = round(dt, 2)
    out["ann_lsh_recall"] = round(recall, 3)
    out["ann_lsh_planes"] = derive_n_planes(args.vecs, multiprobe=1)
    print(f"# ann_lsh: {dt:.2f}s  recall {recall:.3f} on {n_planted} planted pairs", file=sys.stderr)

    # --- training-pipeline stages over the same synthetic docs ---
    # pack_sequences: the distributed prefix-sum must hold its shape when the
    # shard-offset table is thousands of rows (docs/64 shards); decontamination:
    # the broadcast bench-set join over ~docs x 28 shingles.
    from hdfs2cass_spark.plans.pipeline import decontamination_overlap, pack_sequences

    run("pack_sequences", pack_sequences(spark, tmp), args.docs)
    run("decontamination", decontamination_overlap(spark, tmp), args.docs)

    # the composed curation chain (quality -> dedup -> decontam -> pack) as
    # ONE job over the same synthetic docs — the end-to-end number a real
    # pipeline pays, not the per-stage sum
    from hdfs2cass_spark.plans.compose import curate_corpus

    run("curate_corpus", curate_corpus(spark, tmp), args.docs)

    out["docs"] = args.docs
    out["vecs"] = args.vecs
    out["rows"] = args.rows
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
