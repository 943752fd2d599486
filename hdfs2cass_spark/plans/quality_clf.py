"""Learned quality-classifier queries — the CCNet/fastText-style scorer
(declared oracle row + the call-time-fit rows-only twin).

The rule-based quality family (gopher_quality_filter, c4_quality_filter,
gopher_line_rules/paragraph_rules) covers the published heuristics; the one
staple LLM-curation stage still missing was the LEARNED scorer: CCNet
(Wenzek et al. 2020) ranks web text with a fastText linear model trained on
a high-quality seed, and every major pipeline since carries some variant.
This module declares it with the engine's oracle-twin discipline
(the embedding_ivf_topk precedent):

  - ``quality_classifier_score`` (oracle-checked): the COMMITTED weights
    (fixtures/quality_logreg.parquet, fit once offline by
    scripts/gen_classifier_fixture.py with operators/classifier.fit_logreg
    — the real model-build step) applied to the feature vector. Both
    engines inline the weights as literals; the margin is a dot product
    under the proven list_sum summation contract, so the scores hash-match
    cross-engine at every scale factor.
  - ``quality_classifier_learned`` (rows-only): the production shape — fit
    AT CALL TIME on this corpus (weak label: the Gopher rule verdict — the
    CCNet teacher-distillation trick with the engine's own rule family as
    the teacher), production xxhash64 featurizer, then map-side scoring.
    The iterative fit is not SQL-expressible (the
    embedding_ivf_learned_topk argument); determinism and separation are
    pinned by tests/test_classifier.py (bit-identical refit under
    repartitioning via the quantized int64 gradient sums; planted good/bad
    docs separate).

FEATURES (the fastText-input analog): the 64-dim hashed bag-of-words
embedding (operators/embed.py — L2-normalized, so it carries vocabulary,
not length) concatenated with 4 bounded doc-statistic features — capped
word count, mean word length, alphabetic-word fraction, capped stop-word
count — the sufficient statistics of the teacher rule family, each computed
with the registry's engine-exact arithmetic (integer counts, correctly-
rounded double divisions; no log/exp on the feature path). Normalized BoW
alone cannot express a length rule (measured: an all-positive degenerate
fit); with the stats appended the distilled model actually separates.

100 TB shape: the fit is O(iters) scans collecting dims+2 scalars each
(model rows, never data); scoring is a pure column expression with literal
weights — map-side, zero shuffle, no broadcast variable needed; the
feature join is doc_id-keyed (both sides derive from the same scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import STOPWORDS, W_DUCK, W_SPARK
from ..operators.classifier import fit_logreg, margin_duck, margin_expr
from ..operators.text import _spread_docs
from ..sources.readers import load_table
from .registry import declare
from .textembed import _embed_md5_duck_ctes

_DIMS = 64
_N_STATS = 4
_FDIMS = _DIMS + _N_STATS
# 16 epochs @ lr 2.0: measured 88% teacher agreement at sf0.001 (8 epochs:
# 81%; lr 4.0 oscillates) — each epoch is ONE dims+2-scalar aggregate
_ITERS = 16
_LR = 2.0

# the 4 stat features, Spark-side (identical arithmetic in the DuckDB CTE):
# every one is HARD-BOUNDED to [0, 2] — the mean-word-length cap at 20
# matters (review finding): an uncapped URL/base64/CJK-compound corpus
# would push feature 65 to 10+, blowing the int64 gradient-quantization
# headroom classifier.py documents. The cap is a no-op on any natural-
# language corpus (fixture max mwl: 5.3) so the committed fixture and the
# oracle values are unchanged; every division is a single correctly-
# rounded double op
_STATS_SPARK = (
    "array("
    "CAST(least(_nw, 200) AS DOUBLE) / 200, "
    "least(CAST(_swl AS DOUBLE) / _nw, CAST(20 AS DOUBLE)) / 10, "
    "CAST(_na AS DOUBLE) / _nw, "
    "CAST(least(_ns, 10) AS DOUBLE) / 10)"
)


def _features_spark(d: DataFrame, hash_mode: str) -> DataFrame:
    """(doc_id, features: array<double>[68]) — hashed-BoW embedding ++ doc
    stats, joined on doc_id. NULL-text docs are absent (the embedder's
    contract; the oracle CTE filters identically).

    Shape decision, MEASURED (round 8): fusing the stats into the
    embedding's explode+aggregate (one tokenization, no join) looks like
    the obvious win but LOSES 10-15% at the 1M-doc stress shape (md5 4.11s
    join vs 4.54s fused; xxhash64 3.07 vs 3.57, min-of-3 same-JVM,
    bit-equal outputs): the per-word stat columns widen every exploded row
    and the aggregation state, while the join form evaluates the stats as
    per-doc array lambdas (1M rows, not 30M) and the doc_id join is cheap
    next to the explode aggregate. Keep the join."""
    from ..operators.embed import embed_texts

    emb = embed_texts(_spread_docs(d), dims=_DIMS, hash_mode=hash_mode)
    stats = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .select(
            "doc_id",
            F.expr("size(ws)").cast("int").alias("_nw"),
            F.expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))")
            .cast("bigint")
            .alias("_swl"),
            F.expr("size(filter(ws, w -> w rlike '[a-zA-Z]'))").cast("int").alias("_na"),
            F.expr(f"size(filter(ws, w -> w IN {STOPWORDS}))").cast("int").alias("_ns"),
        )
    )
    return emb.join(stats, "doc_id").select(
        "doc_id",
        F.expr(
            f"concat(transform(embedding, x -> CAST(x AS DOUBLE)), {_STATS_SPARK})"
        ).alias("features"),
    )


def _features_duck_ctes() -> str:
    """DuckDB CTEs -> feats(doc_id, features: DOUBLE[68]), reproducing
    :func:`_features_spark` with hash_mode='md5' bit-for-bit (the embedding
    CTEs are the shared textembed fragments; FLOAT -> DOUBLE widening on
    concat is exact; the stat divisions are the same single ops)."""
    return f"""{_embed_md5_duck_ctes()},
    st AS (
      SELECT doc_id,
             CAST(len(ws) AS INTEGER) AS _nw,
             CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS _swl,
             CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS INTEGER)
               AS _na,
             CAST(len(list_filter(ws, w -> w IN {STOPWORDS})) AS INTEGER) AS _ns
      FROM (SELECT doc_id, {W_DUCK} AS ws FROM documents WHERE text IS NOT NULL) t),
    feats AS (
      SELECT e.vec_id AS doc_id,
             list_transform(e.embedding, x -> x::DOUBLE) ||
             [CAST(LEAST(_nw, 200) AS DOUBLE) / 200,
              LEAST(CAST(_swl AS DOUBLE) / _nw, CAST(20 AS DOUBLE)) / 10,
              CAST(_na AS DOUBLE) / _nw,
              CAST(LEAST(_ns, 10) AS DOUBLE) / 10] AS features
      FROM emb e JOIN st ON st.doc_id = e.vec_id)"""


def _fixture_model(fname: str = "quality_logreg.parquet") -> tuple[list[float], float]:
    """The committed learned scorer (fixtures/quality_logreg.parquet, fit
    once offline by scripts/gen_classifier_fixture.py on sf0.01 — see its
    docstring). Both engines inline these as literals, so the margin is
    engine-exact at every scale factor. ``quality_logreg_xxh.parquet`` is
    the same recipe fit over the production xxhash64 featurizer (the
    stress-lane fast twin's model, round 12)."""
    import pyarrow.parquet as pq

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    t = pq.read_table(os.path.join(repo_root, "fixtures", fname))
    return list(t.column("weights").to_pylist()[0]), float(t.column("bias").to_pylist()[0])


_W, _B = _fixture_model()
_W_XXH, _B_XXH = _fixture_model("quality_logreg_xxh.parquet")


@declare(
    "quality_classifier_score",
    oracle=f"""
    WITH {_features_duck_ctes()}
    SELECT doc_id,
           round({margin_duck("features", _W, _B)}, 6) AS margin,
           {margin_duck("features", _W, _B)} > 0 AS pred
    FROM feats ORDER BY doc_id
    """,
    doc="Learned quality score per document (CCNet/fastText recipe): the "
    "committed logistic-regression weights (fit offline on the Gopher rule "
    "verdict — teacher distillation) applied to the 68-dim feature vector "
    "(md5 hashed-BoW ++ 4 doc-stat features); outputs the decision margin "
    "(engine-exact dot product — sigmoid is monotone in it, and exp() is "
    "not correctly rounded cross-engine) and the keep prediction "
    "margin > 0. Map-side scoring with literal weights: zero shuffle "
    "beyond the featurization.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = _features_spark(d, "md5")
    m = margin_expr("features", _W, _B)
    return (
        feats.select(
            "doc_id",
            F.round(m, 6).alias("margin"),
            (m > 0).alias("pred"),
        )
        .orderBy("doc_id")
    )


@declare(
    "quality_classifier_learned",
    oracle=None,  # the logistic fit is iterative (one aggregate per epoch) — not SQL-expressible; the fixture-weights twin quality_classifier_score is the oracle-checked one
    doc="The production form of quality_classifier_score: logistic "
    "regression FIT AT CALL TIME on this corpus (weak label: the Gopher "
    "rule verdict), production xxhash64 featurizer, then map-side margin "
    "scoring. Bit-deterministic refit (quantized int64 gradient sums — "
    "order-independent) and planted good/bad separation pinned by "
    "tests/test_classifier.py.",
)
def quality_classifier_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality import gopher_quality_filter

    d = load_table(spark, sf_dir, "documents")
    feats = _features_spark(d, "xxhash64")
    labels = gopher_quality_filter(spark, sf_dir).select("doc_id", "keep")
    train = feats.join(labels, "doc_id")
    w, b = fit_logreg(train, "keep", "features", _FDIMS, iters=_ITERS, lr=_LR)
    m = margin_expr("features", w, b)
    return (
        feats.select(
            "doc_id",
            F.round(m, 6).alias("margin"),
            (m > 0).alias("pred"),
        )
        .orderBy("doc_id")
    )


@declare(
    "quality_classifier_score_fast",
    oracle=None,  # production xxhash64 featurizer by design — quality_classifier_score (md5) is the oracle-checked twin
    doc="Production quality scorer: identical recipe and output contract to "
    "quality_classifier_score, but the hashed-BoW featurizer uses JVM-native "
    "xxhash64 (no per-word md5+hex round-trip — the ~2 s/1M-doc oracle tax "
    "the round-11 stage profile measured) and the committed weights are the "
    "same offline fit re-run over those features "
    "(fixtures/quality_logreg_xxh.parquet) — the variant you run at 100 TB. "
    "Kept alongside the md5 twin so the scorer stays oracle-verified while "
    "the fast path is what the stress lane benchmarks (the "
    "minhash_lsh_pairs_fast precedent). Teacher agreement and planted "
    "separation pinned by tests/test_classifier.py (TWINS.json).",
)
def quality_classifier_score_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = _features_spark(d, "xxhash64")
    m = margin_expr("features", _W_XXH, _B_XXH)
    return (
        feats.select(
            "doc_id",
            F.round(m, 6).alias("margin"),
            (m > 0).alias("pred"),
        )
        .orderBy("doc_id")
    )
