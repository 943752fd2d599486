"""Batch fuzz differential for the shared tokenizer (functions/tokenize.py).

The \\x0B lesson: Java regex and RE2 can disagree on CHARACTER CLASS
MEMBERSHIP, which no fixture-driven test catches until the right character
lands in a fixture. This test generates a deterministic battery of nasty
strings — control chars, unicode spaces, combining marks, emoji, mixed
runs — and asserts Spark's split and DuckDB's str_split_regex produce the
IDENTICAL token arrays for every one (one batched Spark job; per-string
DuckDB statements — in-process, microseconds each).
"""

from __future__ import annotations

import random

import duckdb

from hdfs2cass_spark.functions.tokenize import words_duck, words_spark

# characters chosen to probe class-membership edges: ASCII whitespace,
# the \x0B divergence, unicode spaces (NOT whitespace in either engine's
# ASCII \s), controls, combining marks, astral-plane emoji
_ALPHABET = (
    list("abcXYZ019_-.,!?/")
    + [" ", "\t", "\n", "\x0b", "\f", "\r"]
    + ["\x00", "\x1f", "\x7f"]
    + [" ", " ", " ", "　"]  # unicode spaces/line sep
    + ["é", "ü", "ß", "中", "文", "́"]  # latin-1, CJK, combining acute
    + ["\U0001f600"]  # emoji (surrogate-pair handling)
)


def _battery() -> list[str]:
    rnd = random.Random(20260814)
    out = []
    for n in range(200):
        length = rnd.randrange(0, 40)
        out.append("".join(rnd.choice(_ALPHABET) for _ in range(length)))
    # targeted shapes the random draw may miss
    out += ["", " ", "\x0b", " \x0b ", "a\x0bb", " ", "a b",
            "\x0b\t\n\f\r", "end\x0b", "\x0bstart"]
    return out


def test_hash60_agrees_on_fuzz_battery(spark):
    """The 60-bit md5-derived hash underpins every oracle row (shingles,
    coins, fingerprints, exact dedup) — Spark's md5(CAST(x AS BINARY)) and
    DuckDB's md5(VARCHAR) must hash the identical UTF-8 bytes for every
    nasty string (emoji = surrogate pairs, combining marks, controls)."""
    from hdfs2cass_spark.functions.tokenize import hash60_duck, hash60_spark

    # md5('') is fine but NULs embedded in strings probe the byte handling
    texts = [t for t in _battery() if t]  # both engines NULL-out NULL input
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    srows = {
        r.i: r.h
        for r in df.selectExpr("i", f"{hash60_spark('text')} AS h").collect()
    }
    con = duckdb.connect()
    duck_sql = f"SELECT {hash60_duck('?')}"
    mism = [
        (i, texts[i])
        for i in range(len(texts))
        if con.execute(duck_sql, [texts[i]]).fetchone()[0] != srows[i]
    ]
    assert not mism, f"{len(mism)} divergent hashes, first: {mism[0]!r}"


def test_tokenizer_agrees_on_fuzz_battery(spark):
    texts = _battery()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    srows = {
        r.i: r.ws
        for r in df.selectExpr("i", f"{words_spark()} AS ws").collect()
    }
    con = duckdb.connect()
    duck_sql = f"SELECT {words_duck('?')}"
    drows = {
        i: con.execute(duck_sql, [t]).fetchone()[0]
        for i, t in enumerate(texts)
    }
    mism = [
        (i, texts[i], srows[i], drows[i])
        for i in range(len(texts))
        if list(srows[i]) != list(drows[i])
    ]
    assert not mism, f"{len(mism)} divergent tokenizations, first: {mism[0]!r}"
