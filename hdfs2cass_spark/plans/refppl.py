"""Reference-LM perplexity bucketing (oracle row 81) — the ACTUAL CCNet
recipe shape.

``bigram_logprob_score`` (plans/lm.py) fits its LM on the corpus being
scored; CCNet (Wenzek et al. 2020) fits on a trusted REFERENCE corpus
(Wikipedia), scores the crawl with it, and splits each language into
head / middle / tail perplexity TERCILES — downstream training samples
head-heavy. This module declares that full recipe in-dataflow:

  - fit: the bigram MLE model (the lm.py arithmetic, unchanged) over the
    REFERENCE split (doc_id % REF_MOD == 0 — the crossdedup fixture
    convention for "the corpus we trust");
  - score: every NEW doc's average log P(w_i | w_{i-1}) under that model,
    transitions unseen in the reference floored at OOV_LOGP (a crawl doc
    full of reference-unseen transitions scores to the floor — exactly the
    signal the filter wants);
  - bucket: per-language head/middle/tail terciles of the score.

TERCILES AT 100 TB (the interesting part): NTILE(3) OVER (PARTITION BY
lang ORDER BY ...) is the one-line oracle, but a per-language window over
the scored corpus is the single-task-window anti-pattern — one task sorts
one language's entire corpus. The Spark plan computes the IDENTICAL
bucketing without it, the corpus_stats_report histogram trick extended to
ranks: scores are rounded to 6dp, so the (lang, score) HISTOGRAM is small;
a window over the histogram gives each score's "better-rows-before-me"
offset; each doc's exact rank = that offset + its row_number among its
equal-score peers (a (lang, score)-partitioned window — bounded by tie
counts, not corpus size); the ntile bucket is then closed-form arithmetic
on (rank, n). Every window in the plan is bounded — histogram-sized,
tie-sized, or (the r13 fit window: SUM(cnt_ab) OVER (PARTITION BY a))
vocabulary-bounded, a partition holding one prefix word's distinct
continuations; a heavy-hitter prefix gives a large partition, but its size
is capped by vocabulary, not corpus — never corpus-sized.
Engine-exactness: ranks are exact integers
under the deterministic (score DESC, doc_id) order, and the closed-form
bucket reproduces NTILE's ceil/floor sizes bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokenize import W_DUCK, W_SPARK, hash60_duck, hash60_spark
from ..operators.ckpt import materialize
from ..operators.text import _spread_docs
from ..sources import load_table
from .crossdedup import REF_MOD
from .lm import _LOGP_DEC
from .registry import declare

# OOV floor for transitions unseen in the reference model: strictly below
# any MLE log-prob a realistic reference can produce (ln(1/cnt_a) with
# cnt_a ~ 1e13 is ~ -29.9), and a CONSTANT so the score stays a pure
# function of the doc + model (no corpus-size coupling)
OOV_LOGP = -30.0


@declare(
    "ref_perplexity_buckets",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, {W_DUCK} AS ws FROM documents
      WHERE text IS NOT NULL AND len({W_DUCK}) >= 2),
    big AS (
      SELECT doc_id, lang,
             {hash60_duck("ws[i]")} AS a,
             {hash60_duck("ws[i + 1]")} AS b
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
    refb AS (SELECT a, b FROM big WHERE doc_id % {REF_MOD} = 0),
    cb AS (SELECT a, b, COUNT(*) AS cnt_ab FROM refb GROUP BY a, b),
    cu AS (SELECT a, SUM(cnt_ab) AS cnt_a FROM cb GROUP BY a),
    model AS (
      SELECT cb.a, cb.b,
             CAST(round(ln(CAST(cnt_ab AS DOUBLE) / CAST(cnt_a AS DOUBLE)), 9)
                  AS {_LOGP_DEC}) AS logp
      FROM cb JOIN cu ON cu.a = cb.a),
    scored AS (
      SELECT big.doc_id, big.lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN model.logp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_bigrams,
             round(CAST(SUM(coalesce(model.logp,
                                     CAST({OOV_LOGP} AS {_LOGP_DEC}))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_logprob
      FROM big LEFT JOIN model ON model.a = big.a AND model.b = big.b
      WHERE big.doc_id % {REF_MOD} <> 0
      GROUP BY big.doc_id, big.lang)
    SELECT doc_id, lang, n_bigrams, oov_bigrams, avg_logprob,
           CAST(NTILE(3) OVER (PARTITION BY lang
                               ORDER BY avg_logprob DESC, doc_id) AS INTEGER)
             AS bucket
    FROM scored ORDER BY doc_id
    """,
    doc=f"The CCNet reference-perplexity recipe: a bigram MLE model fit on "
    f"the REFERENCE split (doc_id %% {REF_MOD} == 0), every other doc "
    f"scored by its average log P(w|prev) under that model (reference-"
    f"unseen transitions floored at {OOV_LOGP} — the crawl-gibberish "
    f"signal), then per-language head/middle/tail terciles (bucket 1 = "
    f"best). The oracle buckets with NTILE; the Spark plan reproduces the "
    f"identical ranks from a (lang, score)-HISTOGRAM window + tie-local "
    f"row_numbers + closed-form ntile arithmetic — no corpus-sized window "
    f"anywhere (every window is histogram- or tie-bounded).",
)
def ref_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    big = (
        _spread_docs(d)
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", F.expr(W_SPARK).alias("ws"))
        .filter(F.expr("size(ws) >= 2"))
        # hash each word ONCE into an array, then pair adjacent hashes:
        # the inlined per-pair form md5-hashes every word twice (as pair
        # i's second element and pair i+1's first) — measured 2.5s -> 1.7s
        # on the position table at the 1M-doc stress; values identical
        .select(
            "doc_id",
            "lang",
            F.expr(f"transform(ws, w -> {hash60_spark('w')})").alias("hs"),
        )
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(hs) - 1), i -> "
                    "struct(element_at(hs, i) AS a, element_at(hs, i + 1) AS b))"
                )
            ).alias("g"),
        )
        .select("doc_id", "lang", "g.a", "g.b")
    )
    # the position table feeds TWO branches (reference model fit +
    # new-split scoring) and its explode lambda never passes
    # ReuseExchange — materialize once (the lm.py rationale verbatim;
    # measured 18.2s -> see ROUND8.md at the 1M-doc stress)
    big = materialize(big)
    refb = big.filter(F.col("doc_id") % REF_MOD == 0).select("a", "b")
    cb = refb.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt_ab"))
    # cnt_a rides an unbounded window over cb (one partition per unigram a),
    # not a re-aggregate + join-back — the lm.py r13 fix, which this module's
    # copy of the fit missed: Catalyst inlines cb as a SECOND aggregate
    # subtree for the cu branch and re-shuffles cb by a for the join. The
    # window sum is the identical integer SUM(cnt_ab) per a, so logp is
    # bit-equal; a window partition holds the distinct CONTINUATIONS of one
    # prefix word — vocabulary-bounded, not corpus-bounded.
    model = cb.withColumn(
        "cnt_a", F.sum("cnt_ab").over(Window.partitionBy("a"))
    ).select(
        "a",
        "b",
        F.expr(
            f"CAST(round(ln(CAST(cnt_ab AS DOUBLE) / CAST(cnt_a AS DOUBLE)), 9)"
            f" AS {_LOGP_DEC})"
        ).alias("logp"),
    )
    scored_plan = (
        big.filter(F.col("doc_id") % REF_MOD != 0)
        .join(model, ["a", "b"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("logp").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_bigrams"),
            F.round(
                F.sum(
                    F.coalesce(
                        F.col("logp"), F.expr(f"CAST({OOV_LOGP} AS {_LOGP_DEC})")
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )
    # the DOC-GRAIN score table feeds two consumers (the rank histogram and
    # the final join) whose exchanges differ — materialize it once so the
    # expensive fit+score subtree never runs twice (the table is #new-docs
    # rows, 6 narrow columns; at the 1M-doc stress the win is modest — the
    # md5 word hashing dominates — but at 100 TB the avoided recompute is
    # the full fit+score, not a hash-bound scan)
    scored = materialize(scored_plan)
    # Exact per-language terciles WITHOUT a corpus-sized window — the
    # histogram-rank NTILE (operators/ntile.py: cumulative window over the
    # small (lang, rounded-score) histogram + tie-local row_numbers +
    # closed-form ntile arithmetic; every window histogram- or tie-bounded)
    from ..operators.ntile import exact_ntile

    return (
        exact_ntile(
            scored, 3, "avg_logprob", "doc_id", part_cols=["lang"], desc=True
        )
        .select(
            "doc_id", "lang", "n_bigrams", "oov_bigrams", "avg_logprob", "bucket"
        )
        .orderBy("doc_id")
    )
