"""Shared vector arithmetic for embedding columns.

The dot/norm stay in Spark's higher-order functions. The tempting
alternative — unrolling 64 ``try_element_at`` terms into one codegen'd
expression — wins in an isolated aggregate (~1.5x) but LOSES inside the real
join+window pipelines: the generated method exceeds janino's size limits,
whole-stage codegen falls back, and the query runs 2.4x SLOWER than the HOF
form (measured on embedding_topk_cosine at sf0.1: 0.69s HOF vs 1.63s
unrolled-fallback). Keep HOFs; they evaluate interpreted but stay stable
under composition.

The win that does hold is STRUCTURAL: compute each vector's norm ONCE on its
side of the join (one extra column) instead of re-evaluating both norms per
candidate pair after the join. At sf0.1 that's a modest 5-8% (A/B, min of 5:
topk 0.694->0.661s, near-dup pairs 1.389->1.275s) because candidate counts
are small — but per-pair arithmetic is exactly the term that grows with
corpus size, so the prenormed shape is the one to ship. sqrt and multiply
are correctly rounded, so moving the norm before the join is bit-identical
and the DuckDB oracles keep hash-matching.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Spark SQL for the dot product of two array columns (fold order:
    0.0 + t1 + t2 + ... — matches the DuckDB twin's list_sum)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    """Spark SQL for the L2 norm of an array column."""
    return (
        f"sqrt(aggregate({a}, CAST(0 AS DOUBLE), (acc, x) -> "
        "acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


# DuckDB twins; they hardcode the fixture width, range(1, 65)
_DOT_DUCK = "list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
_NORM_DUCK = "sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"


# cosine with a nullif-guarded denominator: a ZERO vector (padding row,
# failed encode — inevitable in a 100 TB corpus) has norm 0 and Spark's
# ANSI-mode division THROWS ArithmeticException where DuckDB yields NaN/inf.
# Cosine is undefined for zero vectors: both engines yield NULL and the
# consumers exclude it explicitly. Caught by the adversarial probe, not the
# fixtures (which contain no zero vectors).
def _cosine_prenormed(a: str, b: str, an: str, bn: str):
    """Cosine from PRE-COMPUTED norm columns: the norms are built once per
    vector before the pair join instead of re-evaluated per pair after it —
    same IEEE values (sqrt and multiply are correctly rounded), ~3x less
    arithmetic per candidate pair."""
    return F.expr(dot_sql(a, b)) / F.expr(
        f"nullif({an} * {bn}, CAST(0 AS DOUBLE))"
    )


def _cosine_duck(a: str, b: str) -> str:
    return (
        f"({_DOT_DUCK.format(a=a, b=b)}"
        f" / nullif({_NORM_DUCK.format(a=a)} * {_NORM_DUCK.format(a=b)}, 0))"
    )
