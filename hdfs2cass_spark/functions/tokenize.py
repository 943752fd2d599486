"""THE whitespace definition — spelled out once, identically on both engines.

Java regex (Spark) defines ``\\s`` as ``[ \\t\\n\\x0B\\f\\r]`` but RE2
(DuckDB) omits ``\\x0B`` (vertical tab). Any pattern written with a bare
``\\s`` therefore TOKENIZES DIFFERENTLY across engines the moment a
document contains a vertical tab — which silently breaks every word-based
oracle row at the differential gate (caught by the round-6 ``\\x0B`` row in
tests/test_null_edges.py). Every whitespace class in the repo is built from
the constants here, using Java's set (so Spark-side behavior is unchanged
and DuckDB moves to match).

Escaping conventions — the same class needs two spellings:

- ``WS_DUCK`` / ``words_duck`` — single-backslash form, for DuckDB SQL
  string literals (no escape processing) and for patterns passed to Spark
  via ``F.lit`` (``regexp_count``/``regexp_extract_all`` column args).
- ``WS_SPARK`` / ``words_spark`` — double-backslash form, for patterns
  embedded inside Spark SQL single-quoted literals (``F.expr`` parses
  ``'\\\\t'`` down to ``\\t`` before the regex engine sees it).
"""

from __future__ import annotations

# Java's \s character set, spelled out (note \x0B — the RE2 divergence)
WS_CHARS = r" \t\n\x0B\f\r"
WS_DUCK = rf"[{WS_CHARS}]"
WS_SPARK = WS_DUCK.replace("\\", "\\\\")


def words_spark(col: str = "text") -> str:
    """Spark SQL expr: whitespace-tokenized words array over ``col``."""
    return f"split(trim({col}), '{WS_SPARK}+')"


def words_duck(col: str = "text") -> str:
    """DuckDB SQL: the identical tokenization. NB: ``trim(x, ' ')``, not
    bare ``trim(x)`` — DuckDB's default trim strips UNICODE spaces
    (U+3000, U+2003, ...) while Spark's strips only ASCII 0x20; the
    explicit character argument pins DuckDB to Spark's semantics (found by
    the tokenizer fuzz battery, tests/test_tokenize_fuzz.py)."""
    return f"str_split_regex(trim({col}, ' '), '{WS_DUCK}+')"


W_SPARK = words_spark()
W_DUCK = words_duck()

STOPWORDS = "('the', 'a', 'and', 'of', 'to')"

# k=3 word shingles over a pre-materialized words column `ws` (1-indexed
# element access in both engines). IMPORTANT: the words array must be a real
# column, not the split() expression inlined — Catalyst does not CSE inside
# lambda bodies, so an inlined split re-tokenizes the document once per
# shingle element (O(words^2) per doc; measured 10x slowdown at sf0.1).
SH_ON_WS_SPARK = (
    "CASE WHEN size(ws) >= 3 THEN "
    "transform(sequence(1, size(ws) - 2), i -> "
    "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))) "
    "ELSE CAST(array() AS ARRAY<STRING>) END"
)
SH_DUCK = (
    f"CASE WHEN len({W_DUCK}) >= 3 THEN "
    f"list_transform(generate_series(1, len({W_DUCK}) - 2), i -> "
    f"{W_DUCK}[i] || ' ' || {W_DUCK}[i + 1] || ' ' || {W_DUCK}[i + 2]) "
    f"ELSE []::VARCHAR[] END"
)


# 60-bit md5-derived hash, identical in both engines: Spark
# conv(substr(md5(x),1,15),16,10) == DuckDB ('0x'||substr(md5(x),1,15))::BIGINT.
# No engine-native hash (xxhash64 / hash()) appears in an oracle-checked query.
def hash60_spark(expr: str) -> str:
    return f"CAST(conv(substr(md5(CAST({expr} AS BINARY)), 1, 15), 16, 10) AS BIGINT)"


def hash60_duck(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"
