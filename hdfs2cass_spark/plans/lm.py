"""Language-model quality scoring: the perplexity-filter stage of a
training-data pipeline, Spark-first.

Production curation pipelines score documents with a language model and drop
the tail (CCNet — Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data" — uses a KenLM 5-gram model).
The external-model dependency doesn't exist in this sandbox, so the
declared query is the self-contained analogue that IS expressible as pure
dataflow: a bigram MLE model fit ON the corpus itself in one pass, scoring
each document by its average bigram log-probability. Low scores mark docs
whose word transitions are atypical for the corpus (gibberish, boilerplate
word salad, wrong-language fragments) — the same filtering signal, with the
model-fit amortized into the query instead of a side-loaded artifact.

100 TB shape: the bigram position table is corpus-sized (one row per
adjacent word pair, 60-bit hashed — no vocabulary built or broadcast) and
is materialized ONCE (DISK_ONLY localCheckpoint — it feeds both the model
fit and the scoring probe, and its explode lambda never passes
ReuseExchange); the model (distinct bigrams with MLE log-probs) is one
map-side-combined aggregation plus an unbounded window per unigram (the
denominator partition is the distinct CONTINUATIONS of one prefix word —
vocabulary-bounded, not corpus-bounded, so no window task scales with the
corpus), and scoring is ONE hashed equi-join of positions to model
(AQE-splittable, nothing broadcast) plus a per-doc aggregate. Determinism for the oracle: per-bigram log-probs round to 9
decimals and sum as DECIMAL (exact, order-independent — float summation
order differs between engines), with the final average a rounded double
division of identical operands.

Declared after plans.textembed so the driver's checked prefix keeps its
existing membership (this registers as oracle-backed entry #54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokenize import W_DUCK, W_SPARK, hash60_duck, hash60_spark
from ..operators.ckpt import materialize
from ..operators.text import _spread_docs
from ..sources import load_table
from .registry import declare

_LOGP_DEC = "DECIMAL(20, 9)"


@declare(
    "bigram_logprob_score",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {W_DUCK} AS ws FROM documents
      WHERE text IS NOT NULL AND len({W_DUCK}) >= 2),
    big AS (
      SELECT doc_id,
             {hash60_duck("ws[i]")} AS a,
             {hash60_duck("ws[i + 1]")} AS b
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
    cb AS (SELECT a, b, COUNT(*) AS cnt_ab FROM big GROUP BY a, b),
    cu AS (SELECT a, SUM(cnt_ab) AS cnt_a FROM cb GROUP BY a),
    model AS (
      SELECT cb.a, cb.b,
             CAST(round(ln(CAST(cnt_ab AS DOUBLE) / CAST(cnt_a AS DOUBLE)), 9)
                  AS {_LOGP_DEC}) AS logp
      FROM cb JOIN cu ON cu.a = cb.a)
    SELECT big.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM big JOIN model ON model.a = big.a AND model.b = big.b
    GROUP BY big.doc_id
    ORDER BY doc_id
    """,
    doc="Bigram-LM quality scoring (the in-dataflow analogue of the CCNet "
    "perplexity filter): a bigram MLE model is fit on the corpus in one "
    "pass (one map-side-combined aggregation over 60-bit-hashed word "
    "pairs, denominators via a per-unigram window — no vocabulary built, "
    "broadcast, or side-loaded) and each "
    "doc scores as the average log P(w_i | w_i-1) of its transitions. Low "
    "avg_logprob flags gibberish / word-salad / wrong-language docs. "
    "Scoring is one hashed equi-join of the position table to the model "
    "(AQE-splittable) + a per-doc aggregate; per-bigram log-probs sum as "
    "DECIMAL so the cross-engine hash is exact despite float-summation "
    "order.",
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    big = (
        _spread_docs(d)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .filter(F.expr("size(ws) >= 2"))
        # hash each word ONCE into an array, then pair adjacent hashes: the
        # inlined per-pair form md5-hashes every word twice (round-8 fix,
        # measured 2.5s -> 1.7s on the position table at the 1M-doc
        # stress; values identical, oracle untouched)
        .select(
            "doc_id",
            F.expr(f"transform(ws, w -> {hash60_spark('w')})").alias("hs"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(hs) - 1), i -> "
                    "struct(element_at(hs, i) AS a, element_at(hs, i + 1) AS b))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.a", "g.b")
    )
    # the position table feeds TWO branches (model fit + scoring probe)
    # and its explode carries a lambda subtree that never passes
    # ReuseExchange — materialize once, same house shape (and rationale)
    # as exact_substring_spans' gram table
    big = materialize(big)
    cb = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt_ab"))
    # cnt_a rides an unbounded window over cb (grain: one partition per
    # unigram a), not a re-aggregate + join-back — Catalyst inlines cb as a
    # SECOND aggregate subtree for the cu branch and re-shuffles cb by a for
    # the join (r13; the dsir/lang_rates precedent). The window sum is the
    # identical integer SUM(cnt_ab) per a, so logp is bit-equal.
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
    return (
        big.join(model, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("logp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )
