"""Built-in Avro reader: split packing against Spark's own file scans,
exact temporal casts on the Arrow output, and the loud failures (mixed
schemas, a block whose record count does not match its payload)."""

from __future__ import annotations

import pytest

from hdfs2cass_spark.sources import avrodec


def _song_files(d, n_files: int, rows_per_file: int) -> int:
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "long"}, {"name": "v", "type": "string"}],
    }
    d.mkdir()
    k = 0
    for i in range(n_files):
        rows = [{"k": k + j, "v": f"v{k + j}"} for j in range(rows_per_file)]
        avrodec.write_container(str(d / f"p{i:03d}.avro"), schema, rows, block_records=64)
        k += rows_per_file
    return k


def test_split_packing_follows_spark_file_scans(spark, tmp_path):
    """Small files pack into as many tasks as Spark's own file scan gives
    the same files (binaryFile packs by FilePartition's rule too) under
    size-suffixed confs, every row is read exactly once, and an explicit
    split_bytes still splits a file into several tasks."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.sources.avro import _parse_byte_size, plan_tasks, read_avro

    d = tmp_path / "many"
    n = _song_files(d, 40, 1000)
    files = sorted(str(p) for p in d.iterdir())
    keys = (
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.minPartitionNum",
    )
    old = [spark.conf.get(k, None) for k in keys]
    counts = []
    try:
        # the second set packs 40 ~7 KB files into 14 tasks; were either
        # size unparsed (falling back to 4 MB / 128 MB) the count would be
        # 40 or 4
        for confs in (("4m", "128m", "4"), ("16k", "64k", "4")):
            for k, v in zip(keys, confs):
                spark.conf.set(k, v)
            want = spark.read.format("binaryFile").load(str(d)).rdd.getNumPartitions()
            df = read_avro(spark, str(d))
            assert len(plan_tasks(spark, files)) == want
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
    assert _parse_byte_size("4m", 0) == 4 << 20

    big = tmp_path / "big"
    n = _song_files(big, 2, 20000)
    df = read_avro(spark, str(big), split_bytes=64 * 1024)
    assert df.rdd.getNumPartitions() > 2
    got = df.agg(F.count("*"), F.countDistinct("k")).first()
    assert tuple(got) == (n, n)


def test_top_level_temporals_cast_exactly(spark, tmp_path):
    """date / timestamp-millis / timestamp-micros top-level columns arrive
    as the exact instants, including pre-1970 values and ones past
    the year 2262, where a nanosecond pandas hop overflows."""
    from hdfs2cass_spark.sources.avro import read_avro

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
    p = str(tmp_path / "t.avro")
    avrodec.write_container(p, schema, rows, codec="deflate", block_records=3)
    got = read_avro(spark, p).selectExpr(
        "k", "unix_date(d) AS d", "unix_millis(ms) AS ms", "unix_micros(us) AS us"
    )
    assert sorted(map(tuple, got.collect())) == [
        (r["k"], r["d"], r["ms"], r["us"]) for r in rows
    ]


def test_mixed_writer_schemas_fail_naming_the_file(spark, tmp_path):
    """A file whose writer schema differs from the planned one must fail
    the read, not be decoded with the first file's decoder."""
    from hdfs2cass_spark.sources.avro import read_avro

    d = tmp_path / "mixed"
    d.mkdir()
    a = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]}
    b = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "string"}]}
    avrodec.write_container(str(d / "a.avro"), a, [{"k": i} for i in range(10)])
    avrodec.write_container(str(d / "b.avro"), b, [{"k": f"s{i}"} for i in range(10)])
    with pytest.raises(Exception, match=r"b\.avro.*schema"):
        read_avro(spark, str(d)).collect()


def test_block_count_mismatch_fails(spark, tmp_path):
    """A block whose record count leaves payload bytes undecoded must fail
    the read instead of dropping the rest of the block."""
    from hdfs2cass_spark.sources.avro import read_avro

    schema = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]}
    p = tmp_path / "short.avro"
    avrodec.write_container(str(p), schema, [{"k": 1}, {"k": 2}], block_records=2)
    with open(p, "rb") as f:
        start = avrodec.read_header(f)["data_start"]
    raw = bytearray(p.read_bytes())
    assert raw[start] == 4  # zigzag varint of the record count 2
    raw[start] = 2  # claim one record
    p.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="trailing bytes"):
        read_avro(spark, str(p)).collect()


def test_has_avro_support_probes_once_per_app(spark, monkeypatch):
    from hdfs2cass_spark.sources import readers

    first = readers.has_avro_support(spark)
    calls = []
    monkeypatch.setattr(readers, "_probe_avro", lambda s: calls.append(s) or (not first))
    assert readers.has_avro_support(spark) is first
    assert calls == []
