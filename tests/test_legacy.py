"""Legacy parser tests (P3) — golden + malformed cases mirroring
/root/reference/src/test/java/com/spotify/hdfs2cass/LegacyInputFormatTest.java:26-85."""

import pytest
from pyspark.sql import Row

from hdfs2cass_spark.operators.legacy import format_legacy_lines, parse_legacy_lines

NOW_MS = 42

GOOD = [
    "HdfsToCassandra\t1\tk1\tc1\tv1",
    "HdfsToCassandra\t2\tk2\tc2\t1000\tv2",
    "HdfsToCassandra\t3\tk3\tc3\t2000\t300\tv3",
]

MALFORMED = [
    "WrongPrefix\t1\tk\tc\tv",          # wrong prefix (:72-73)
    "HdfsToCassandra\t1\tk\tc",         # wrong field count v1 (:77-79)
    "HdfsToCassandra\t2\tk\tc\tv",      # wrong field count v2
    "HdfsToCassandra\t3\tk\tc\t1\tv",   # wrong field count v3
    "HdfsToCassandra\t9\tk\tc\tv",      # unknown version (:97-98)
    "HdfsToCassandra\t2\tk\tc\tNaN\tv",  # non-numeric timestamp (:123-129)
]


def _lines_df(spark, lines):
    return spark.createDataFrame([Row(line=ln) for ln in lines])


def test_parse_all_versions(spark):
    out = parse_legacy_lines(_lines_df(spark, GOOD), now_ms=NOW_MS)
    rows = {r["key"]: r for r in out.collect()}
    assert rows["k1"]["colname"] == "c1"
    assert rows["k1"]["timestamp"] == NOW_MS  # v1: stamped with fixed now
    assert rows["k1"]["ttl"] == 0
    assert rows["k1"]["value"] == "v1"
    assert rows["k2"]["timestamp"] == 1000
    assert rows["k3"]["timestamp"] == 2000
    assert rows["k3"]["ttl"] == 300
    assert rows["k3"]["value"] == "v3"


def test_permissive_drops_malformed(spark):
    out = parse_legacy_lines(_lines_df(spark, GOOD + MALFORMED), mode="permissive", now_ms=NOW_MS)
    assert out.count() == len(GOOD)


@pytest.mark.parametrize("bad", MALFORMED)
def test_strict_raises_per_case(spark, bad):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    out = parse_legacy_lines(_lines_df(spark, [bad]), mode="strict", now_ms=NOW_MS)
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        out.collect()


def test_strict_passes_good(spark):
    out = parse_legacy_lines(_lines_df(spark, GOOD), mode="strict", now_ms=NOW_MS)
    assert out.count() == 3


def test_roundtrip_format_parse(spark):
    df = spark.createDataFrame([Row(k="a", c="col", ts=123, ttl=5, v="val")])
    lines = format_legacy_lines(df, key="k", colname="c", value="v", timestamp="ts", ttl="ttl")
    assert lines.collect()[0]["line"] == "HdfsToCassandra\t3\ta\tcol\t123\t5\tval"
    back = parse_legacy_lines(lines, mode="strict").collect()[0]
    assert (back["key"], back["colname"], back["timestamp"], back["ttl"], back["value"]) == (
        "a", "col", 123, 5, "val",
    )


def test_read_legacy_text_from_files(spark, tmp_path):
    """S2: legacy lines written as text files under two paths, read back by
    read_legacy_text and parsed strictly, equal the same lines parsed from
    an in-memory frame (all three versions, non-ASCII included)."""
    from hdfs2cass_spark.sources.readers import read_legacy_text

    df = spark.createDataFrame(
        [
            Row(k="a", c="col", ts=123, ttl=5, v="val"),
            Row(k="ü", c="c2", ts=7, ttl=0, v="naïve"),
        ]
    )
    lines = [
        r["line"]
        for fmt in ({}, {"timestamp": "ts"}, {"timestamp": "ts", "ttl": "ttl"})
        for r in format_legacy_lines(df, key="k", colname="c", value="v", **fmt).collect()
    ]
    paths = [str(tmp_path / "a.txt"), str(tmp_path / "b.txt")]
    for path, chunk in zip(paths, (lines[:3], lines[3:])):
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(chunk) + "\n")

    def parsed(frame):
        out = parse_legacy_lines(frame, mode="strict", now_ms=NOW_MS)
        return sorted(tuple(r) for r in out.collect())

    got = parsed(read_legacy_text(spark, paths))
    assert len(got) == 6
    assert got == parsed(_lines_df(spark, lines))


def _python_reference_parse(line, now_ms):
    """Pure-Python spec of the legacy format (LegacyInputFormat.java:26-38,
    57-101): returns the parsed tuple or None if malformed."""
    parts = line.split("\t")
    if len(parts) < 2 or parts[0] != "HdfsToCassandra":
        return None
    try:
        version = int(parts[1])
    except ValueError:
        return None
    expected = {1: 5, 2: 6, 3: 7}.get(version)
    if expected is None or len(parts) != expected:
        return None
    key, colname = parts[2], parts[3]
    if version == 1:
        return (key, colname, now_ms, 0, parts[4])
    try:
        ts = int(parts[4])
    except ValueError:
        return None
    if version == 2:
        return (key, colname, ts, 0, parts[5])
    try:
        ttl = int(parts[5])
    except ValueError:
        return None
    return (key, colname, ts, ttl, parts[6])


def test_fuzz_parser_matches_python_reference(spark):
    """Differential fuzz: 600 adversarial lines (random tabs/fields/prefixes/
    numbers) through the Spark parser in permissive mode must accept exactly
    the set the Python spec accepts, with identical values."""
    import random

    rnd = random.Random(99)
    fields = ["HdfsToCassandra", "hdfstocassandra", "1", "2", "3", "9", "x",
              "key", "col", "42", "-7", "NaN", "", "v al", "1e3"]
    lines = []
    for _ in range(600):
        n = rnd.randrange(1, 9)
        lines.append("\t".join(rnd.choice(fields) for _ in range(n)))
    # plus guaranteed-good ones
    lines += GOOD

    NOW = 7
    expected = {}
    for ln in lines:
        expected.setdefault(ln, _python_reference_parse(ln, NOW))

    df = _lines_df(spark, list(expected))
    got_rows = parse_legacy_lines(df.withColumn("orig", df.line), line_col="line",
                                  mode="permissive", now_ms=NOW)
    # join back on line text is impossible post-drop; re-parse per unique line instead
    got = {}
    out = parse_legacy_lines(_lines_df(spark, list(expected)), mode="permissive", now_ms=NOW)
    # permissive drops malformed: count must equal number of valid expected
    n_valid = sum(1 for v in expected.values() if v is not None)
    assert out.count() == n_valid
    # and each accepted tuple must be produced by the spec for SOME input line
    valid_set = {v for v in expected.values() if v is not None}
    for r in out.collect():
        t = (r["key"], r["colname"], r["timestamp"], r["ttl"], r["value"])
        assert t in valid_set, t


def test_tab_in_value_is_malformed_like_reference(spark):
    """A value containing a tab makes the row 8 fields; the reference's
    exact-length check (parts.length != 7 -> exception,
    LegacyInputFormat.java:92-94) treats it as malformed — so do we: strict
    raises, permissive drops. The format cannot carry tabs in values."""
    import pytest
    from pyspark.sql import Row

    from hdfs2cass_spark.operators.legacy import parse_legacy_lines

    df = spark.createDataFrame([Row(line="HdfsToCassandra\t3\tk\tc\t100\t5\tval\twith_tab")])
    with pytest.raises(Exception):
        parse_legacy_lines(df, mode="strict").collect()
    assert parse_legacy_lines(df, mode="permissive").count() == 0
