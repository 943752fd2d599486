"""Avro reads through Spark's own file source (``read_records(fmt="avro")``):
split planning against Spark's other file scans, the plan shape, exact
temporals, the directory contract, and the loud failures (mixed schemas, a
block whose record count does not match its payload). Spark's own Avro
writer (``write_avro``) stages every file."""

from __future__ import annotations

import pytest

from avrofiles import avro_file, stored_records

from hdfs2cass_spark.sources.readers import read_records, write_avro


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _song_files(spark, d, n_files: int, rows_per_file: int) -> int:
    """``n_files`` uncompressed (k long, v string) files under ``d``, written
    by one job of ``n_files`` partitions."""
    n = n_files * rows_per_file
    df = spark.range(n, numPartitions=n_files).selectExpr("id AS k", "concat('v', id) AS v")
    write_avro(df, str(d), codec="uncompressed")
    return n


def test_split_packing_follows_spark_file_scans(spark, tmp_path):
    """Small files pack into as many tasks as Spark's other file scans give
    the same files (binaryFile packs by FilePartition's rule too) under
    size-suffixed confs, every row is read exactly once, and the scan is
    Spark's Avro source with no Python decode node."""
    from pyspark.sql import functions as F

    d = tmp_path / "many"
    n = _song_files(spark, d, 40, 1000)
    keys = (
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.minPartitionNum",
    )
    old = [spark.conf.get(k, None) for k in keys]
    counts = []
    try:
        # the second set packs 40 files of 7-10 KB into 14 tasks, the first
        # into 4
        for confs in (("4m", "128m", "4"), ("16k", "64k", "4")):
            for k, v in zip(keys, confs):
                spark.conf.set(k, v)
            want = spark.read.format("binaryFile").load(str(d)).rdd.getNumPartitions()
            df = read_records(spark, str(d), fmt="avro")
            plan = _plan(df)
            assert "FileScan avro" in plan and "MapInArrow" not in plan, plan
            assert df.rdd.getNumPartitions() == want
            got = df.agg(F.count("*"), F.countDistinct("k"), F.sum("k")).first()
            assert tuple(got) == (n, n, n * (n - 1) // 2)
            counts.append(want)
    finally:
        for k, v in zip(keys, old):
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert counts[0] != counts[1]


def test_top_level_temporals_cast_exactly(spark, tmp_path):
    """date / timestamp-millis / timestamp-micros top-level columns arrive
    as the exact instants, including pre-1970 values and ones past
    the year 2262, where a nanosecond pandas hop overflows. The file stores
    the same raw values, read without Spark, so a unit error shared by
    Spark's writer and reader cannot cancel out."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "us", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
        ],
    }
    rows = [
        {"k": 0, "d": 0, "ms": 0, "us": None},
        {"k": 1, "d": -719162, "ms": -62135596800000, "us": -1},
        {"k": 2, "d": 200000, "ms": 16725225600123, "us": 16725225600123456},
        {"k": 3, "d": 19000, "ms": 1700000000001, "us": 1700000000000001},
    ]
    df = spark.createDataFrame(
        [tuple(r.values()) for r in rows], "k bigint, d int, ms bigint, us bigint"
    ).selectExpr(
        "k", "date_from_unix_date(d) AS d", "timestamp_millis(ms) AS ms",
        "timestamp_micros(us) AS us",
    )
    p = avro_file(df, tmp_path / "t.avro", schema)
    assert stored_records(spark, p) == rows
    got = read_records(spark, p, fmt="avro").selectExpr(
        "k", "unix_date(d) AS d", "unix_millis(ms) AS ms", "unix_micros(us) AS us"
    )
    assert sorted(map(tuple, got.collect())) == [
        (r["k"], r["d"], r["ms"], r["us"]) for r in rows
    ]


def test_mixed_writer_schemas_fail_naming_the_file(spark, tmp_path):
    """A file whose writer schema cannot resolve to the read schema must
    fail the read, naming the file, not be decoded as the first file."""
    d = tmp_path / "mixed"
    d.mkdir()
    a = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]}
    b = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "string"}]}
    avro_file(spark.range(10).selectExpr("id AS k"), d / "a.avro", a)
    avro_file(spark.range(10).selectExpr("concat('s', id) AS k"), d / "b.avro", b)
    with pytest.raises(Exception, match=r"FAILED_READ_FILE.*b\.avro"):
        read_records(spark, str(d), fmt="avro").collect()


def test_block_count_mismatch_fails(spark, tmp_path):
    """A block whose record count leaves payload bytes undecoded must fail
    the read instead of dropping the rest of the block."""
    schema = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]}
    p = tmp_path / "short.avro"
    avro_file(spark.range(1, 3).selectExpr("id AS k"), p, schema)
    raw = bytearray(p.read_bytes())
    # every block ends with the file's 16-byte sync marker, which also
    # closes the header: the first block starts right after its first copy
    start = raw.find(raw[-16:]) + 16
    assert raw[start] == 4  # zigzag varint of the record count 2
    raw[start] = 2  # claim one record
    p.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="Block read partially"):
        read_records(spark, str(p), fmt="avro").collect()


def test_directory_reads_only_avro_files(spark, tmp_path):
    """A directory input reads only its *.avro files, a caller's
    pathGlobFilter replaces that default, and an input with no Avro file
    raises."""
    schema = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]}
    d = tmp_path / "dir"
    d.mkdir()
    avro_file(spark.range(10).selectExpr("id AS k"), d / "a.avro", schema)
    (d / "README.txt").write_text("not avro\n")
    assert read_records(spark, str(d), fmt="avro").count() == 10
    avro_file(spark.range(5).selectExpr("id AS k"), d / "b.dat", schema)
    assert read_records(spark, str(d), fmt="avro", pathGlobFilter="*.dat").count() == 5
    empty = tmp_path / "noavro"
    empty.mkdir()
    (empty / "x.txt").write_text("x\n")
    with pytest.raises(Exception, match="No Avro files found"):
        read_records(spark, str(empty), fmt="avro")


def test_bulk_load_over_avro_has_no_python_node(spark, tmp_path):
    """read_records(fmt="avro") -> bulk_load plans the JVM Avro scan and no
    Python node, on the Murmur3 and the RandomPartitioner path; the token
    function runs inside a whole-stage-codegen stage."""
    import re

    from hdfs2cass_spark.config import RANDOM, TargetInfo
    from hdfs2cass_spark.jvm import MD5_TOKEN_BUCKET, MURMUR3_TOKEN
    from hdfs2cass_spark.sinks.pipeline import bulk_load

    d = tmp_path / "songs"
    n = _song_files(spark, d, 2, 500)
    src = read_records(spark, str(d), fmt="avro")
    random_target = TargetInfo("ks", "t", src.columns, ["k"], partitioner=RANDOM)
    for fn, target in ((MURMUR3_TOKEN, None), (MD5_TOKEN_BUCKET, random_target)):
        routed = bulk_load(src, "cql://h/ks/t?reducers=4", rowkey="k", target=target, now_ms=42)
        # collect finalizes the adaptive plan, which carries the codegen stage ids
        assert len(routed.collect()) == n
        plan = _plan(routed)
        assert "FileScan avro" in plan, plan
        assert not re.search(r"ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas", plan), plan
        assert re.search(rf"\*\(\d+\) Project \[[^\n]*{fn}\(", plan), plan


def test_avro_roundtrip_customer_removes_its_staging_at_exit(spark, sf_dir, monkeypatch):
    """The catalog query stages under one root per (process, thread): the
    first call registers one exit hook for it, later calls none, and the
    hook removes the root."""
    import atexit
    import os

    from hdfs2cass_spark.plans import CATALOG, catalog

    hooks = []
    monkeypatch.setattr(catalog, "_AVRO_STAGING_ROOTS", set())
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: hooks.append((fn, a, kw)))
    for _ in range(2):
        assert CATALOG["avro_roundtrip_customer"].fn(spark, sf_dir).count() > 0
    assert len(hooks) == 1
    fn, args, kw = hooks[0]
    assert os.path.isdir(args[0]) and os.path.basename(args[0]).startswith("h2c_avro_rt_")
    fn(*args, **kw)
    assert not os.path.exists(args[0])
