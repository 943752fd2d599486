"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
"Winnowing: Local Algorithms for Document Fingerprinting", the MOSS
algorithm) + the candidate-pair matching stage built on them.

Winnowing selects a deterministic, position-robust SUBSET of a document's
k-gram hashes: slide a window of WINNOW_W consecutive gram hashes and keep
the minimum of each window (leftmost position on ties — pinned identically
in both engines). Guarantees: any shared substring of at least
SUBSTR_K + WINNOW_W - 1 words produces at least one shared fingerprint
(the paper's theorem 1), while the expected density is only
2/(WINNOW_W + 1) of all grams — the classic fingerprint-vs-coverage dial.

Relation to the neighbors in this engine: the exact-substring family
(plans/pipeline.py, plans/spans.py) keeps EVERY gram (exact spans, big
index); minhash (operators/text.py) keeps a similarity SKETCH (whole-doc
Jaccard, no positions). Winnowing sits between them: positional evidence
like the gram table at a fraction of its size — the right index for
"which documents share a passage with this one" at corpus scale.

100 TB shape: fingerprint selection is MAP-ONLY (one scan, higher-order
functions over the per-doc gram-hash array — no explode of unselected
grams, no shuffle); the pair stage groups the selected fingerprints by
hash through the capped-bucket gate (operators/buckets.py — count before
collect, hot boilerplate fingerprints dropped before any buffer fills)
and expands pairs only inside surviving buckets.

Reference framing: the reference has no fingerprinting surface
(SURVEY.md §2.2) — extension surface for the training-data pipeline,
sharing the exact-substring family's gram arithmetic (SUBSTR_K,
hash60) so fingerprints are comparable across the two indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import W_DUCK, W_SPARK, hash60_duck, hash60_spark
from ..operators.buckets import bucket_pairs, capped_buckets
from ..sources.readers import load_table
from .pipeline import SUBSTR_K
from .present import present_sorted
from .registry import declare

WINNOW_W = 4  # gram hashes per winnowing window (density ~ 2/(W+1))
PAIR_CAP = 100  # capped-bucket gate for the pair stage (BAND_CAP class)

# per-doc gram-hash array: the SAME SUBSTR_K-word gram + hash60 arithmetic
# as substring_gram_positions, kept as an ARRAY (winnowing selects from it
# in place; the unselected grams are never exploded into rows). fast=True
# is the oracle-tax dial (the minhash_lsh_pairs_fast precedent): per-word
# xxhash64 + an O(K) xor-rotate window fold instead of md5 over per-gram
# strings — 2.1x at the 1M-doc stress shape.


def _let(val: str, var: str, body: str) -> str:
    """LET binding in Spark SQL: evaluate ``val`` once, name it ``var``
    inside ``body`` (lambda variables are immune to CollapseProject
    inlining — the _sel_let trick, factored for the expression ladders)."""
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _rot(e: str, b: int) -> str:
    """64-bit left rotation by ``b`` — shiftrightunsigned (not shiftright)
    keeps the wrapped high bits from sign-extending; xor/shift only, so
    ANSI mode never sees an overflow."""
    return f"(shiftleft({e}, {b}) ^ shiftrightunsigned({e}, {64 - b}))"


def _hs_spark(fast: bool = False) -> str:
    if fast:
        # hash each WORD once (xxhash64), then fold the K words of each
        # gram with an order-sensitive xor-rotate: gram(i) = XOR over
        # j of rot5^(K-1-j)(wh[i+j]) — word order inside the gram counts,
        # and no per-gram string is ever built (rebuilding the 8-word
        # string and xxhash64-ing it per window measured 13.6 s vs 6.3 s
        # at the 1M-doc stress shape).
        #
        # O(K log K) doubling form (round 11): the fold is LINEAR over
        # XOR (rotation distributes), so it decomposes exactly like the
        # selection ladder instead of an O(K)-step aggregate per gram:
        #   g2[i] = rot5(wh[i])  ^ wh[i+1]     (= 2-word gram at i)
        #   g4[i] = rot10(g2[i]) ^ g2[i+2]     (= 4-word gram at i)
        #   g8[i] = rot20(g4[i]) ^ g4[i+4]     (= 8-word gram at i)
        # — log2(K) whole-array zip_with passes, BIT-IDENTICAL to the
        # sequential fold (pinned in tests/test_winnow.py). Tail entries
        # past the valid range go null (xor propagates null, unlike the
        # selection's least) and the final slice drops exactly those.
        assert SUBSTR_K & (SUBSTR_K - 1) == 0, "doubling ladder needs 2^n"
        p, var = 1, "wh"
        body = f"slice(g{SUBSTR_K}, 1, size(wh) - {SUBSTR_K - 1})"
        wraps = []
        while p * 2 <= SUBSTR_K:
            nxt = f"g{p * 2}"
            wraps.append(
                (
                    nxt,
                    f"zip_with({var}, slice({var}, {p + 1}, size({var})), "
                    f"(x, y) -> {_rot('x', 5 * p)} ^ y)",
                )
            )
            var, p = nxt, p * 2
        for nxt, val in reversed(wraps):
            body = _let(val, nxt, body)
        return _let("transform(ws, w -> xxhash64(w))", "wh", body)
    gram = f"concat_ws(' ', slice(ws, i, {SUBSTR_K}))"
    return (
        f"transform(sequence(1, size(ws) - {SUBSTR_K - 1}), i -> "
        + hash60_spark(gram)
        + ")"
    )


_HS_SPARK = _hs_spark()
_HS_DUCK = (
    f"list_transform(generate_series(1, len(ws) - {SUBSTR_K - 1}), i -> "
    + hash60_duck(f"array_to_string(list_slice(ws, i, i + {SUBSTR_K - 1}), ' ')")
    + ")"
)

# window-minimum selection, leftmost position on ties: for window j the
# selected gram is the lexicographic MIN of (h, pos) structs over the
# window — same convention as min-hash-then-first-position.
#
# O(K log W) sparse-table form (round 11): the earlier per-window
# `array_min(transform(slice(hs, j, W), ...))` built and scanned a fresh
# W-struct array PER WINDOW — O(K*W) struct builds, and it dominated the
# stress line (not the hashing). The doubling ladder below computes the
# same minima in log2(W) whole-array zip_with passes:
#   wp[i]  = struct(h=hs[i], pos=i)            (one transform)
#   m2[i]  = least(wp[i], wp[i+1])             = min over i..i+1
#   m4[i]  = least(m2[i], m2[i+2])             = min over i..i+3
# `least` is null-skipping, so the zip_with null padding past the end
# clamps exactly like slice did: m4[i] near the tail is the min over
# i..K, which is also what makes the K < W whole-doc window come out of
# m4[1] for free. Struct ordering is lexicographic (h, pos) = min hash,
# leftmost tie. Every intermediate is LET-BOUND (see _sel_let — lambda
# bodies block CSE, so a plain alias would re-evaluate per reference).
# Equality with the per-window form is pinned in tests/test_winnow.py.


def _sel_spark_expr() -> str:
    """The window-min selection over a lambda-bound gram array ``hs`` —
    the O(K log W) doubling ladder described above, generated for any
    WINNOW_W (non-power-of-two widths get one extra shifted zip_with)."""
    least2 = "(x, y) -> least(x, y)"
    p, names = 1, ["wp"]
    while p * 2 <= WINNOW_W:
        p *= 2
        names.append(f"m{p}")
    top = names[-1]
    if p == WINNOW_W:
        fin = top
    else:  # min over width W = min(m_p[i], m_p[i + W - p])
        fin = f"zip_with({top}, slice({top}, {WINNOW_W - p + 1}, size({top})), {least2})"
    body = f"array_distinct(slice({fin}, 1, greatest(1, size({top}) - {WINNOW_W - 1})))"
    shift = p // 2
    for i in range(len(names) - 1, 0, -1):
        prev = names[i - 1]
        body = _let(
            f"zip_with({prev}, slice({prev}, {shift + 1}, size({prev})), {least2})",
            names[i],
            body,
        )
        shift //= 2
    return _let(
        "transform(hs, (x, k) -> struct(x AS h, CAST(k + 1 AS INT) AS pos))",
        "wp",
        body,
    )


_SEL_SPARK = _sel_spark_expr()
# no list_distinct here: DuckDB's list_distinct is histogram-based and
# unimplemented for STRUCT elements — the oracle dedupes after the unnest
# (SELECT DISTINCT), same result; Spark keeps the in-array array_distinct
# so its side stays map-only
_SEL_DUCK = (
    f"list_transform(generate_series(1, greatest(1, len(hs) - {WINNOW_W - 1})), "
    f"j -> {{'pos': CAST(j - 1 + list_position(list_slice(hs, j, j + {WINNOW_W - 1}), "
    f"list_min(list_slice(hs, j, j + {WINNOW_W - 1}))) AS INTEGER), "
    f"'h': list_min(list_slice(hs, j, j + {WINNOW_W - 1}))}})"
)

_FP_CTE_DUCK = f"""
    w AS (SELECT doc_id, {W_DUCK} AS ws FROM documents WHERE text IS NOT NULL),
    g AS (SELECT doc_id, {_HS_DUCK} AS hs FROM w WHERE len(ws) >= {SUBSTR_K}),
    sel AS (SELECT doc_id, unnest({_SEL_DUCK}) AS u FROM g),
    fp AS (SELECT DISTINCT doc_id, u.pos AS pos, u.h AS h FROM sel)"""


def _sel_let(fast: bool = False) -> str:
    """The full per-row selection with the gram array LET-BOUND.

    The selection lambda references the gram-hash array once per window
    slice; naively aliasing the array in a previous select gets INLINED by
    CollapseProject into the lambda — lambda bodies block CSE, so the full
    md5 gram hashing re-evaluates PER WINDOW (measured 49 s / 20k docs/s at
    the 1M-doc stress shape, ~4x the let-bound form). The
    `transform(array(<hs>), hs -> <selection>)[1]` wrapper is a LET
    BINDING: hs becomes a lambda variable, evaluated exactly once per row,
    immune to projection collapse."""
    return f"element_at(transform(array({_hs_spark(fast)}), hs -> {_SEL_SPARK}), 1)"


def winnow_fingerprints_df(d: DataFrame, fast: bool = False) -> DataFrame:
    """(doc_id, pos, h): the selected fingerprints — map-only, one scan.
    ``fast`` selects with xxhash64 gram hashes (different fingerprints,
    same guarantees; the rows-only production twin's mode)."""
    return (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .filter(F.expr(f"size(ws) >= {SUBSTR_K}"))
        .select("doc_id", F.explode(F.expr(_sel_let(fast))).alias("u"))
        .select("doc_id", F.col("u.pos").alias("pos"), F.col("u.h").alias("h"))
    )


def winnow_report_df(d: DataFrame, fast: bool = False) -> DataFrame:
    """(doc_id, n_fp, fp_digest): the per-doc fingerprint REPORT — count +
    a digest of the canonical 'pos:h' fingerprint string, ordered by pos.
    Fully map-only: the digest folds over the selected array IN the row
    (nested let so the selection evaluates once for both outputs); nothing
    explodes corpus-wide and nothing shuffles — the grain a 100 TB
    fingerprint inventory actually reports at (the row-per-fingerprint
    form, winnow_fingerprints_df, feeds the pair stage and the streaming
    index instead of a global presentation sort)."""
    canon = (
        "concat_ws(',', transform(array_sort(transform(sel, s -> "
        "struct(s.pos AS pos, s.h AS h))), t -> "
        "concat(CAST(t.pos AS STRING), ':', CAST(t.h AS STRING))))"
    )
    dig = f"xxhash64({canon})" if fast else hash60_spark(canon)
    packed = (
        f"element_at(transform(array({_sel_let(fast)}), sel -> "
        f"struct(CAST(size(sel) AS BIGINT) AS n_fp, {dig} AS fp_digest)), 1)"
    )
    return (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .filter(F.expr(f"size(ws) >= {SUBSTR_K}"))
        .select("doc_id", F.expr(packed).alias("r"))
        .select("doc_id", F.col("r.n_fp").alias("n_fp"), F.col("r.fp_digest").alias("fp_digest"))
    )


@declare(
    "winnow_fingerprints",
    oracle=f"""
    WITH {_FP_CTE_DUCK}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
           {hash60_duck("string_agg(CAST(pos AS VARCHAR) || ':' || CAST(h AS VARCHAR), ',' ORDER BY pos)")} AS fp_digest
    FROM fp GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS "
    f"algorithm): per document, the minimum gram hash of every window of "
    f"{WINNOW_W} consecutive {SUBSTR_K}-word gram hashes (leftmost position "
    f"on ties), deduplicated — a position-robust ~2/{WINNOW_W + 1} density "
    f"subset that still guarantees a shared fingerprint for any shared "
    f"substring of >= {SUBSTR_K + WINNOW_W - 1} words. Same gram arithmetic "
    f"as the exact-substring family (hash60 over {SUBSTR_K}-word windows). "
    f"Declared at the per-doc REPORT grain (count + md5-derived digest of "
    f"the pos-ordered fingerprint string — every selected position and hash "
    f"is inside the digest, so the oracle checks the exact selection "
    f"without a corpus-wide row explosion). 100 TB shape: MAP-ONLY end to "
    f"end — higher-order functions select from the per-doc gram-hash array "
    f"in place and the digest folds in-row; unselected grams are never "
    f"exploded and nothing shuffles.",
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # barrier-before-orderBy (plans/present.py): measured 36 s vs 19 s at
    # the 1M-doc stress shape on this map-only child
    return present_sorted(
        winnow_report_df(load_table(spark, sf_dir, "documents")), "doc_id"
    )


@declare(
    "winnow_fingerprints_fast",
    oracle=None,  # engine-native xxhash64 grams by design — the md5 twin above is the oracle-checked one
    doc="Production winnowing report: identical selection to "
    "winnow_fingerprints but each WORD is xxhash64-hashed once and grams "
    "fold with an O(K) order-sensitive xor-rotate — no per-gram string "
    "building or md5+hex round-trip (2.1x the string-gram form at the "
    "1M-doc stress shape) — the variant you run at 100 TB. Kept alongside "
    "the md5 twin so the algorithm is oracle-verified while the fast path "
    "stays benchmarked (the minhash_lsh_pairs_fast precedent); the "
    "winnowing guarantee (a shared >= 11-word substring yields a shared "
    "fingerprint) is asserted for BOTH hash modes in tests/test_winnow.py.",
)
def winnow_fingerprints_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return present_sorted(  # barrier-before-orderBy: see winnow_fingerprints
        winnow_report_df(load_table(spark, sf_dir, "documents"), fast=True), "doc_id"
    )


def _candidate_pairs_df(d: DataFrame, fast: bool = False) -> DataFrame:
    """The MOSS matching stage over either hash mode: distinct selected
    fingerprints -> capped-bucket gate -> in-bucket pair expansion ->
    per-pair shared count (>= 2). One definition so the md5 oracle twin and
    the xxhash64 production twin can never fork on the pair dataflow.

    The (doc_id, h) distinct is computed IN-ROW (r13): doc_id is part of
    the distinct key, so the former global ``.distinct()`` — a full
    corpus-sized exchange of the fingerprint table — was equivalent to
    per-doc dedup of the selected hashes, which array_distinct does on the
    selection array before the explode. One exchange (the capped-bucket
    gate) now remains between the scan and the pair expansion."""
    sel_h = f"array_distinct(transform({_sel_let(fast)}, s -> s.h))"
    dfp = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(W_SPARK).alias("ws"))
        .filter(F.expr(f"size(ws) >= {SUBSTR_K}"))
        .select("doc_id", F.explode(F.expr(sel_h)).alias("h"))
    )
    buckets = capped_buckets(dfp, ["h"], "doc_id", cap=PAIR_CAP)
    return (
        buckets.select(F.explode(bucket_pairs("ids", "x AS doc_a, y AS doc_b")).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .orderBy("doc_a", "doc_b")
    )


@declare(
    "winnow_candidate_pairs",
    oracle=f"""
    WITH {_FP_CTE_DUCK},
    dfp AS (SELECT DISTINCT doc_id, h FROM fp),
    kept AS (
      SELECT h FROM dfp GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {PAIR_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM dfp a JOIN dfp b ON a.h = b.h AND a.doc_id < b.doc_id
      JOIN kept k ON k.h = a.h
    )
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
    """,
    doc=f"Winnowing candidate pairs (the MOSS matching stage): documents "
    f"sharing >= 2 distinct selected fingerprints, with the shared count — "
    f"positional plagiarism/near-dup candidates at fingerprint (not full "
    f"gram-table) cost. 100 TB shape: the selected fingerprints group by "
    f"hash through the capped-bucket gate (count BEFORE collect, buckets "
    f"over {PAIR_CAP} docs — boilerplate passages — dropped before any "
    f"buffer fills), pairs expand only inside surviving buckets, and the "
    f"final per-pair count is one map-side-combined aggregate. No "
    f"all-pairs stage exists at any skew.",
)
def winnow_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _candidate_pairs_df(load_table(spark, sf_dir, "documents"))


@declare(
    "winnow_candidate_pairs_fast",
    oracle=None,  # engine-native xxhash64 grams by design — the md5 twin above is the oracle-checked one
    doc="Production MOSS pair stage: identical capped-bucket pair dataflow "
    "to winnow_candidate_pairs (one shared definition) but over the "
    "xxhash64 fingerprint selection (winnow_fingerprints_fast's mode — no "
    "per-gram md5+hex round-trip) — the variant you run at 100 TB. Kept "
    "alongside the md5 twin so the matching stage stays oracle-verified "
    "while the fast path is what the stress lane benchmarks; planted "
    "shared-substring pair recovery is pinned for BOTH hash modes by "
    "tests/test_winnow.py (TWINS.json).",
)
def winnow_candidate_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _candidate_pairs_df(load_table(spark, sf_dir, "documents"), fast=True)
