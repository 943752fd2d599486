"""Distributed text embedding via feature hashing (the hashing trick).

Closes the text -> embedding -> ANN loop with a featurizer that actually
scales: each word deterministically maps to one of ``dims`` buckets with a
+/-1 sign (both carved from one xxhash64), a document's raw vector is the
signed bucket-count histogram, L2-normalized. Classic feature hashing
(Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
Learning") — unsupervised, vocabulary-free, and embarrassingly parallel, so
it is the right baseline encoder when a learned model is unavailable or the
pipeline needs a deterministic cross-run featurization (e.g. for the
embedding-cosine near-dup family in operators/hyperplane.py).

100 TB shape: explode words, map each to (bucket, sign) with codegen'd
xxhash64, then ONE aggregation with ``dims`` conditional SUMs —
``sum(CASE WHEN bucket = i THEN sign END)`` per dimension — in a single
whole-stage-codegen'd HashAggregate with map-side partial combine (one
exchange total; each group's state is dims longs). The dense array is then
``array(d0..d63)`` — plain column packing, no higher-order functions. This
replaced a collect_list -> map_from_entries -> transform(sequence) assembly
that ran on the ObjectHashAggregate + interpreted-lambda path: measured
10.8k -> 253k docs/s at 1M docs (23x) for the identical output. No vocabulary
is built, broadcast, or fit; no Python crosses the row path (plan-checked).
Near-dup texts share most words and land on near-identical vectors (cosine
~ jaccard of the word multisets), which is what the downstream LSH expects.

Codegen width bound (round 6, measured): whole-stage codegen admits the
aggregate only while its field count stays under ``spark.sql.codegen.
maxFields`` (default 100), so the practical codegen cap is dims <= ~96.
Beyond it Spark plans the SAME HashAggregate with interpreted expression
eval — a graceful ~2x slowdown at dims=512 (46.5k -> 23.8k docs/s at 100k
docs), map-side combine intact, never the ObjectHashAggregate cliff.
Raising maxFields to chase codegen at 512 dims is counterproductive: the
generated update method blows janino's limits, and the compile-fail +
per-subtree fallback measured 4x SLOWER than the plain interpreted plan.
Both regimes are pinned by tests/test_embed.py; for genuinely wide
embeddings prefer a learned/Arrow path (operators/hyperplane.py's
_CODEGEN_MAX_PLANES precedent) over hashed BoW at this width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import words_spark

def embed_texts(
    d: DataFrame,
    dims: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "embedding",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id_col, out_col: array<float>) — L2-normalized hashed bag-of-words.

    Words hash once (xxhash64, JVM-side); bucket = low bits mod dims, sign =
    one extra hash bit (unbiased). Edge semantics (pinned by
    tests/test_embed.py): an EMPTY text still embeds — split(trim('')) yields
    one empty-string token, so the doc lands on the ''-token bucket as a unit
    basis vector; a NULL text yields a NULL words array, the explode drops it,
    and the doc is ABSENT from the output. The norm guard (0 -> 0.0) only
    fires for callers that pre-tokenize to an empty bucket set.
    """
    if dims < 2 or dims > 4096:
        raise ValueError(f"dims must be in [2, 4096], got {dims}")
    bucket, sign = bucket_sign_exprs(hash_mode, dims)
    words = d.select(
        F.col(id_col),
        # the shared explicit-whitespace tokenizer (Java \s vs RE2 \s
        # diverge on \x0B; functions/tokenize.py)
        F.explode(F.expr(words_spark(text_col))).alias("_w"),
    ).select(id_col, bucket.alias("_b"), sign.alias("_s"))
    return (
        words.groupBy(id_col)
        .agg(*embed_sum_aggs(dims))
        .withColumn(
            "_raw", F.expr("array(" + ",".join(f"_d{i}" for i in range(dims)) + ")")
        )
        .withColumn("_n", F.expr(NORM_SQL))
        .select(id_col, F.expr(NORMALIZE_SQL).alias(out_col))
    )


# The shareable pieces of the embedding aggregate — exported so a composing
# operator (the quality classifier's fused featurizer,
# plans/quality_clf.py) can compute the embedding sums and its own
# word-statistics aggregates in ONE explode + ONE groupBy instead of
# tokenizing the corpus twice and joining, WITHOUT duplicating the
# hash/bucket/sign/normalize arithmetic (drift here would silently fork the
# md5 oracle twins).

NORM_SQL = "sqrt(aggregate(_raw, 0D, (a, x) -> a + x * x))"
NORMALIZE_SQL = (
    "transform(_raw, x -> CAST(CASE WHEN _n = 0 THEN 0.0 ELSE x / _n END AS FLOAT))"
)


def word_hash_sql(hash_mode: str) -> str:
    """The per-word hash over an exploded ``_w`` column."""
    if hash_mode == "xxhash64":
        return "xxhash64(_w)"  # JVM-native, the production path
    if hash_mode == "md5":
        # the oracle-checkable twin: same 60-bit md5-derived word hash as
        # functions.tokenize.hash60_spark / hash60_duck, so a DuckDB query can
        # reproduce the embedding bit-for-bit (text_embed_near_dup_pairs_md5)
        return "CAST(conv(substr(md5(CAST(_w AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
    raise ValueError(f"hash_mode must be 'xxhash64' or 'md5', got {hash_mode!r}")


def bucket_sign_exprs(hash_mode: str, dims: int):
    """(bucket, sign) columns over an exploded ``_w`` word column."""
    h = word_hash_sql(hash_mode)
    return (
        F.expr(f"CAST(pmod({h}, {dims}) AS INT)"),
        F.expr(
            f"CASE WHEN (pmod({h}, {2 * dims}) DIV {dims}) = 0 THEN 1 ELSE -1 END"
        ),
    )


def embed_sum_aggs(dims: int) -> list:
    """The ``dims`` signed-bucket histogram sums _d0.._d{dims-1} over
    (_b, _s) columns.

    Each aggregate is ONE parsed SQL expression: the former Column-API form
    (coalesce/sum/when/lit/cast/alias per dim) cost ~9 py4j round-trips per
    dimension — ~2.5 s of driver time per embed_texts pair at dims=64 (r13
    cProfile: 12.7k py4j send_commands building the rag retrieval plan, 2.9 s
    of 3.9 total). The parsed expression analyzes to the identical aggregate."""
    return [
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN _b = {i} THEN _s END), 0) AS DOUBLE)"
            f" AS _d{i}"
        )
        for i in range(dims)
    ]
