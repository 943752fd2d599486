"""exact_substring_word_spans (plans/spans.py): planted-corpus semantics —
maximal duplicated word spans with exact boundary trim, windows merging
across a run, nearby-but-separate spans NOT merging, clean docs absent."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hdfs2cass_spark.plans import CATALOG

SHARED12 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
SHARED8 = "one two three four five six seven eight"

DOCS = [
    # doc 0: 12-word dup at words 3..14, two unique words, 8-word dup at 17..24
    "u0 u1 " + SHARED12 + " u2 u3 " + SHARED8 + " u4",
    # doc 1: the 12-word phrase flush at the start
    SHARED12 + " zz1 zz2 zz3",
    # doc 2: the 8-word phrase starting at word 2
    "yy1 " + SHARED8,
    # doc 3: >= 8 unique words, no duplicated window -> no span rows at all
    "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10",
]


@pytest.fixture(scope="module")
def planted_sf(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("span_docs")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(DOCS)), pa.int64()),
                "text": pa.array(DOCS, pa.string()),
                "lang": pa.array(["en"] * len(DOCS), pa.string()),
                "source": pa.array(["t"] * len(DOCS), pa.string()),
                "n_chars": pa.array([len(t) for t in DOCS], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    return str(d)


def test_planted_span_boundaries(spark, planted_sf):
    rows = CATALOG["exact_substring_word_spans"].fn(spark, planted_sf).collect()
    got = {(r["doc_id"], r["span_start"], r["span_n_words"]) for r in rows}
    # doc 0: the 12-word phrase spans 5 consecutive dup windows (3..7) ->
    # ONE merged span [3, 14]; the 8-word phrase is one window at 17 and
    # 17 > 7 + 8, so it stays a SEPARATE span [17, 24]
    assert got == {
        (0, 3, 12),
        (0, 17, 8),
        (1, 1, 12),
        (2, 2, 8),
    }
    # span content digests: the same phrase yields the same fp everywhere
    fp = {(r["doc_id"], r["span_start"]): r["span_fp"] for r in rows}
    assert fp[(0, 3)] == fp[(1, 1)]  # the 12-word phrase
    assert fp[(0, 17)] == fp[(2, 2)]  # the 8-word phrase
    assert fp[(0, 3)] != fp[(0, 17)]


def test_overlapping_windows_merge_into_one_span(spark, tmp_path):
    """Two dup windows whose word intervals overlap but are NOT consecutive
    positions (gap window in between is unique) must still merge: pos 1 and
    pos 6 with K=8 cover [1,8] and [6,13] -> one span [1,13]."""
    # doc A and B share words 1..8; doc A and C share words 6..13; the
    # middle windows (2..5) of doc A mix both regions and are unique to A
    a = "w1 w2 w3 w4 w5 w6 w7 w8 x9 x10 x11 x12 x13"
    b = "w1 w2 w3 w4 w5 w6 w7 w8 yy1 yy2"
    c = "zz0 zz1 w6 w7 w8 x9 x10 x11 x12 x13"
    docs = [a, b, c]
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ov"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(3), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["t"] * 3, pa.string()),
                "n_chars": pa.array([len(t) for t in docs], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    rows = CATALOG["exact_substring_word_spans"].fn(spark, str(d)).collect()
    got = {(r["doc_id"], r["span_start"], r["span_n_words"]) for r in rows}
    # doc 0: dup windows at pos 1 (shared with doc 1) and pos 6 (shared with
    # doc 2, covering words 6..13); 6 <= 1 + 8 -> merged, span [1, 13]
    assert (0, 1, 13) in got
    assert sum(1 for g in got if g[0] == 0) == 1


def test_scrub_keeps_first_occurrence(spark, planted_sf):
    """exact_substring_scrub: the MIN-doc_id holder of a gram keeps its
    copy intact; later docs lose exactly the covered words; docs with no
    earlier-doc dup are untouched (n_scrubbed 0, fp = hash of full text)."""
    rows = {
        r["doc_id"]: r
        for r in CATALOG["exact_substring_scrub"].fn(spark, planted_sf).collect()
    }
    # doc 0 is the FIRST holder of both shared phrases -> nothing scrubbed
    assert rows[0]["n_scrubbed"] == 0
    # doc 1: loses the 12 words of SHARED12 (first held by doc 0)
    assert rows[1]["n_scrubbed"] == 12
    # doc 2: loses the 8 words of SHARED8
    assert rows[2]["n_scrubbed"] == 8
    # doc 3: clean -> untouched
    assert rows[3]["n_scrubbed"] == 0
    # exact post-scrub content: rebuild expectations word-by-word and hash
    # through the engine's own hash60 on a literal (same md5 arithmetic)
    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import hash60_spark

    def h(text):
        return spark.range(1).select(
            F.expr(hash60_spark(f"'{text}'")).alias("v")
        ).first()["v"]

    assert rows[1]["scrubbed_fp"] == h("zz1 zz2 zz3")
    assert rows[2]["scrubbed_fp"] == h("yy1")
    assert rows[3]["scrubbed_fp"] == h(DOCS[3])
    assert rows[0]["scrubbed_fp"] == h(DOCS[0])


def test_scrub_fully_scrubbed_doc_hashes_empty(spark, tmp_path):
    """A doc that is entirely one earlier-seen phrase scrubs to ZERO words
    — both engines must agree on hashing the empty remainder (the
    DuckDB array_to_string([]) IS NULL pitfall)."""
    a = "p1 p2 p3 p4 p5 p6 p7 p8"
    docs = [a + " tail1 tail2", a]  # doc 1 is exactly the shared 8-gram
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "scrub_all"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(2), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array(["en"] * 2, pa.string()),
                "source": pa.array(["t"] * 2, pa.string()),
                "n_chars": pa.array([len(t) for t in docs], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    rows = {
        r["doc_id"]: r
        for r in CATALOG["exact_substring_scrub"].fn(spark, str(d)).collect()
    }
    assert rows[0]["n_scrubbed"] == 0
    assert rows[1]["n_scrubbed"] == 8 and rows[1]["n_words"] == 8
    from pyspark.sql import functions as F

    from hdfs2cass_spark.functions.tokenize import hash60_spark

    empty = spark.range(1).select(F.expr(hash60_spark("''")).alias("v")).first()["v"]
    assert rows[1]["scrubbed_fp"] == empty


def test_decontamination_scrub_planted_benchmark_passage(spark, tmp_path):
    """A train doc carrying a benchmark passage loses exactly that span;
    train-train duplication is NOT scrubbed (membership is benchmark-only,
    unlike exact_substring_scrub's keep-first rule); fully-clean docs keep
    every word."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.plans.pipeline import _BENCH_SPARK, SUBSTR_K
    from hdfs2cass_spark.plans import CATALOG

    # find bench/train ids under the committed hash predicate
    ids = spark.range(200).select(
        F.col("id").alias("doc_id"), F.expr(_BENCH_SPARK).alias("is_bench")
    ).collect()
    bench_ids = [r.doc_id for r in ids if r.is_bench]
    train_ids = [r.doc_id for r in ids if not r.is_bench]
    assert bench_ids, "predicate selects ~5% — 200 ids must contain one"
    passage = " ".join(f"secret{i}" for i in range(SUBSTR_K))  # exactly K words
    dupe = " ".join(f"shared{i}" for i in range(SUBSTR_K))
    rows = [
        (bench_ids[0], f"benchmark text holds {passage} inside it"),
        # train doc with the benchmark passage embedded
        (train_ids[0], f"prefix words here {passage} suffix words here"),
        # two train docs sharing a NON-benchmark passage: must stay intact
        (train_ids[1], f"alpha {dupe} omega"),
        (train_ids[2], f"beta {dupe} gamma"),
        (train_ids[3], "entirely clean document with unique words only"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in CATALOG["decontamination_scrub"].fn(spark, str(tmp_path)).collect()}
    assert bench_ids[0] not in out  # bench docs are not in the output
    carrier = out[train_ids[0]]
    assert carrier.n_scrubbed == SUBSTR_K  # exactly the passage words
    assert out[train_ids[1]].n_scrubbed == 0  # train-train dup untouched
    assert out[train_ids[2]].n_scrubbed == 0
    assert out[train_ids[3]].n_scrubbed == 0
