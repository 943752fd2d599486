"""Distributed linear quality classifier over hashed bag-of-words features.

The one staple LLM-curation stage the rule-based quality family
(plans/quality.py, plans/lines.py, plans/c4.py) cannot cover: a LEARNED
scorer in the CCNet / fastText style (Wenzek et al. 2020, "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data"; Joulin et al. 2017,
"Bag of Tricks for Efficient Text Classification" — both public) — a linear
model over bag-of-words features, trained on a labeled seed (CCNet uses
Wikipedia-vs-crawl; this engine's declared queries use the Gopher rule
verdict as the weak label, the same teacher-distillation trick), then
applied map-side to every document.

Architecture, Spark-first (the operators/kmeans.py broadcast-model
precedent):
  - features: the existing hashed-BoW embedder (operators/embed.py) — the
    fastText input layer IS hashed n-gram bag-of-words, so the engine's
    deterministic featurizer is the faithful public-recipe analog;
  - fit: batch gradient descent on logistic loss. Each iteration folds the
    CURRENT weights into the plan as literals (no Python on the row path),
    computes the per-dimension gradient in ONE whole-corpus aggregation
    (dims+2 sums, map-side combined), and the driver receives dims+2
    scalars — the model, never data rows. O(iters) scans, exactly Lloyd's
    cost shape;
  - determinism: gradient contributions accumulate as 1e-9-quantized int64
    sums (order-independent, partition-schedule-independent — the kmeans Q
    trick), so a re-run or a differently-partitioned input fits the
    IDENTICAL model bit-for-bit;
  - score: margin = dot(embedding, weights) + bias as a pure column
    expression with the weights as literals — map-side, codegen-friendly,
    zero shuffle, the broadcast-model pattern without even a broadcast
    variable. The margin (not the sigmoid) is the oracle-checked output:
    dot products are engine-exact under the proven _DOT_DUCK/list_sum
    summation contract, while exp() is not guaranteed correctly rounded
    across engines.

At 100 TB: the fit runs on a deterministic hash-sample (same argument as
fit_kmeans — a linear model converges on a representative sample; scoring
still touches everything), each iteration is one scan + one dims-wide
partial/final aggregate, and scoring is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# gradient quantization: per-row contributions are bounded by the feature
# range — normalized BoW dims in [-1, 1], stat features hard-capped to
# [0, 2] (plans/quality_clf.py caps each one; the residual is in (-1, 1))
# — so |floor(g * Q)| <= 2Q and the int64 sum holds ~4.6e9 rows per
# aggregate at Q = 1e9 (fit on a hash-sample past that; sample_fraction
# below) — and the sum is order-independent
Q = 1_000_000_000


def margin_expr(vec_col: str, weights: list[float], bias: float) -> F.Column:
    """The decision margin dot(vec, w) + bias as one column expression.

    Weights fold in as full-precision literals (repr round-trips doubles
    exactly). The dot's fold order is 0.0 + t0 + t1 + ... — the same
    summation contract functions/vec.py:dot_sql shares with the DuckDB
    list_sum twin — and the bias adds AFTER the fold on both engines, so
    the margin is engine-exact (IEEE multiply/add are correctly rounded)."""
    lits = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in weights)
    return F.expr(
        f"aggregate(zip_with({vec_col}, array({lits}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    ) + F.lit(float(bias))


def margin_duck(vec_expr: str, weights: list[float], bias: float) -> str:
    """The DuckDB twin of :func:`margin_expr` (1-based list indexing,
    list_sum summation — the _DOT_DUCK contract)."""
    terms = ", ".join(
        f"{vec_expr}[{i + 1}]::DOUBLE * CAST({w!r} AS DOUBLE)"
        for i, w in enumerate(weights)
    )
    return f"(list_sum([{terms}]) + CAST({float(bias)!r} AS DOUBLE))"


def fit_logreg(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    dims: int,
    iters: int = 8,
    lr: float = 2.0,
    sample_fraction: float | None = None,
    id_col: str = "doc_id",
) -> tuple[list[float], float]:
    """Batch-gradient logistic regression; returns (weights, bias).

    ``label_col`` must be 0/1 (castable to double). Init is all-zeros (no
    sampling state); each iteration computes grad_i = sum((sigmoid(margin)
    - y) * x_i) and grad_b = sum(sigmoid(margin) - y) in one aggregation,
    quantized to int64 per row so the accumulation is order-independent and
    the fitted model is bit-deterministic across runs and partitionings.
    ``sample_fraction`` fits on the deterministic hash-sample
    pmod(xxhash64(id), round(1/f)) == 0 (the fit_kmeans recipe)."""
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError(f"sample_fraction must be in (0, 1], got {sample_fraction}")
        s = max(1, round(1.0 / sample_fraction))
        df = df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)) == 0)
    df = df.select(
        F.col(vec_col).alias("_x"), F.col(label_col).cast("double").alias("_y")
    )
    w = [0.0] * dims
    b = 0.0
    for _ in range(iters):
        m = margin_expr("_x", w, b)
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-m)) - F.col("_y")
        it = df.select(F.col("_x"), resid.alias("_r"))
        aggs = [
            F.sum(
                F.floor(
                    F.col("_r") * F.element_at("_x", i + 1).cast("double") * Q
                ).cast("bigint")
            ).alias(f"g{i}")
            for i in range(dims)
        ]
        aggs.append(F.sum(F.floor(F.col("_r") * Q).cast("bigint")).alias("gb"))
        aggs.append(F.count(F.lit(1)).alias("n"))
        row = it.agg(*aggs).collect()[0]  # dims+2 MODEL scalars, never data
        n = row["n"]
        if not n:
            break
        w = [w[i] - lr * ((row[f"g{i}"] or 0) / Q) / n for i in range(dims)]
        b = b - lr * ((row["gb"] or 0) / Q) / n
    return w, b
