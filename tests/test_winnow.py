"""Winnowing fingerprints (plans/winnow.py): the paper guarantee, the
density dial, and report/row consistency. (Engine-exactness of the two
oracle rows is covered by test_catalog_oracle.py.)"""

import pytest
from pyspark.sql import functions as F

from hdfs2cass_spark.plans.pipeline import SUBSTR_K
from hdfs2cass_spark.plans.winnow import (
    WINNOW_W,
    winnow_fingerprints_df,
    winnow_report_df,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("fast", [False, True])
def test_shared_substring_guarantee(spark, fast):
    """Theorem 1 of the paper: any shared substring of >= SUBSTR_K +
    WINNOW_W - 1 words yields at least one SHARED fingerprint — for both
    hash modes (md5 oracle twin and xxhash64 production twin)."""
    shared = " ".join(f"s{i}" for i in range(SUBSTR_K + WINNOW_W - 1))  # 11 words
    a_fill = " ".join(f"a{i}" for i in range(20))
    b_fill = " ".join(f"b{i}" for i in range(20))
    d = _docs(spark, [(1, f"{a_fill} {shared}"), (2, f"{shared} {b_fill}")])
    fp = winnow_fingerprints_df(d, fast=fast)
    h1 = {r["h"] for r in fp.filter("doc_id = 1").collect()}
    h2 = {r["h"] for r in fp.filter("doc_id = 2").collect()}
    assert h1 & h2, "shared >= 11-word substring must share a fingerprint"


def test_density_bounds(spark):
    """Selected density lands near 2/(W+1) of grams: strictly fewer than
    the gram count, at least the 1/W floor (one selection per disjoint
    window)."""
    import random

    rng = random.Random(11)
    words = " ".join(f"w{rng.randrange(10_000)}" for _ in range(400))
    d = _docs(spark, [(1, words)])
    n_grams = 400 - SUBSTR_K + 1
    n_fp = winnow_fingerprints_df(d).count()
    assert n_grams / (WINNOW_W + 1) <= n_fp <= 2 * n_grams / (WINNOW_W + 1) * 1.5


def test_selected_positions_strictly_increase(spark):
    """The winnowing selection order is monotone (window j+1's min cannot
    sit left of window j's when both contain it) — the property the
    report digest's pos-ordering relies on."""
    import random

    rng = random.Random(5)
    words = " ".join(f"w{rng.randrange(500)}" for _ in range(200))
    rows = winnow_fingerprints_df(_docs(spark, [(1, words)])).orderBy("pos").collect()
    poss = [r["pos"] for r in rows]
    assert poss == sorted(set(poss))


@pytest.mark.parametrize("fast", [False, True])
def test_report_consistent_with_rows(spark, sf_dir, fast):
    """The per-doc report's n_fp equals the row form's per-doc count, and
    digests differ iff the fingerprint sets differ (spot: two docs with
    identical text get identical digests; different text differs)."""
    from hdfs2cass_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    rep = {r["doc_id"]: r for r in winnow_report_df(d, fast=fast).collect()}
    counts = {
        r["doc_id"]: r["n"]
        for r in winnow_fingerprints_df(d, fast=fast)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {k: v["n_fp"] for k, v in rep.items()} == counts

    twins = _docs(
        spark,
        [(1, "x " * 30), (2, "x " * 30), (3, "y " * 30)],
    )
    t = {r["doc_id"]: r["fp_digest"] for r in winnow_report_df(twins, fast=fast).collect()}
    assert t[1] == t[2] and t[1] != t[3]

@pytest.mark.parametrize("fast", [False, True])
def test_doubling_ladders_equal_sequential_forms(spark, fast):
    """Round 11 pins: the O(K log W) zip_with ladders (gram-hash fold and
    window-min selection) produce EXACTLY what the sequential per-window
    forms did — bit-identical hashes (the xor-rotate fold is linear over
    XOR) and the identical selected (h, pos) set (least on struct(h, pos)
    = min hash, leftmost tie). Random docs incl. heavy ties (tiny vocab)
    and short docs (< W grams, single whole-doc window)."""
    import random

    from hdfs2cass_spark.plans.winnow import _hs_spark, _sel_let

    rng = random.Random(42)
    rows = []
    for i in range(300):
        n = rng.choice([SUBSTR_K, SUBSTR_K + 1, SUBSTR_K + 2, 30, 60])
        vocab = rng.choice([3, 500])  # tiny vocab forces hash ties
        rows.append((i, " ".join(f"w{rng.randrange(vocab)}" for _ in range(n))))
    d = _docs(spark, rows)

    # sequential reference forms (the pre-round-11 expressions, verbatim)
    if fast:
        seq_hs = (
            f"element_at(transform(array(transform(ws, w -> xxhash64(w))), wh -> "
            f"transform(sequence(1, size(wh) - {SUBSTR_K - 1}), i -> "
            f"aggregate(slice(wh, i, {SUBSTR_K}), CAST(0 AS BIGINT), "
            f"(a, x) -> (shiftleft(a, 5) ^ shiftrightunsigned(a, 59)) ^ x))), 1)"
        )
    else:
        seq_hs = _hs_spark(False)  # md5 form is unchanged; ladder only wraps it
    seq_sel = (
        f"array_distinct(transform(sequence(1, greatest(1, size(hs) - {WINNOW_W - 1})), "
        f"j -> array_min(transform(slice(hs, j, {WINNOW_W}), "
        f"(x, k) -> struct(x AS h, CAST(j + k AS INT) AS pos)))))"
    )
    seq = f"element_at(transform(array({seq_hs}), hs -> {seq_sel}), 1)"

    from hdfs2cass_spark.functions.tokenize import W_SPARK

    base = (
        d.select("doc_id", F.expr(W_SPARK).alias("ws"))
        .filter(F.expr(f"size(ws) >= {SUBSTR_K}"))
    )
    bad = (
        base.select(
            F.expr(f"sort_array({seq})").alias("a"),
            F.expr(f"sort_array({_sel_let(fast)})").alias("b"),
        )
        .filter("a != b")
        .count()
    )
    assert bad == 0


@pytest.mark.parametrize("fast", [False, True])
def test_candidate_pairs_recover_planted_shared_passage(spark, fast):
    """TWINS invariant for winnow_candidate_pairs_fast: a planted shared
    passage long enough to guarantee >= 2 shared fingerprints (two disjoint
    guarantee windows) is recovered as a candidate pair by BOTH hash modes,
    and unrelated docs never pair. Winnowing guarantees >= 1 shared
    fingerprint per SUBSTR_K + WINNOW_W - 1 shared words, so a passage of
    2 * (SUBSTR_K + WINNOW_W - 1) + SUBSTR_K words guarantees >= 2 —
    exactly the pair stage's n_shared >= 2 bar."""
    from hdfs2cass_spark.plans.winnow import _candidate_pairs_df

    n_shared_words = 2 * (SUBSTR_K + WINNOW_W - 1) + SUBSTR_K
    shared = " ".join(f"s{i}" for i in range(n_shared_words))
    a_fill = " ".join(f"a{i}" for i in range(30))
    b_fill = " ".join(f"b{i}" for i in range(30))
    c_text = " ".join(f"c{i}" for i in range(60))
    d = _docs(
        spark,
        [
            (1, f"{a_fill} {shared}"),
            (2, f"{shared} {b_fill}"),
            (3, c_text),  # unrelated — must not pair with anyone
        ],
    )
    pairs = {(r.doc_a, r.doc_b) for r in _candidate_pairs_df(d, fast=fast).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
