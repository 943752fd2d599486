"""CLI surface tests (M3)."""

import glob

import pytest

from hdfs2cass_spark.cli import build_parser, main


def test_parser_flags():
    args = build_parser().parse_args(
        [
            "--input", "/a", "--input", "/b",
            "--output", "cql://h/ks/t",
            "--rowkey", "k", "--timestamp", "ts", "--ttl", "ttl",
            "--ignore", "x", "--ignore", "y",
        ]
    )
    assert args.input == ["/a", "/b"]
    assert args.ignore == ["x", "y"]
    assert args.format == "parquet"


def test_required_flags():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["--input", "/a"])  # missing --output


def test_cli_end_to_end(spark, sf_dir, tmp_path):
    # spark fixture keeps the session alive; cli's getOrCreate reuses it
    out = str(tmp_path / "sink")
    rc = main(
        [
            "--input", f"{sf_dir}/nation.parquet",
            "--input", f"{sf_dir}/nation.parquet",
            "--rowkey", "n_name",
            "--output", "cql://h/ks/nation?reducers=2",
            "--simulated-path", out,
            "--now-ms", "42",
        ]
    )
    assert rc == 0
    assert len(glob.glob(f"{out}/bucket=*")) >= 1


def test_avro_roundtrip(spark, tmp_path, sf_dir):
    """S1: round-trip a fixture through the Avro container format and
    bulk-load it — identical dataflow to parquet. Spark's Avro source
    writes the files, one per partition of a 4-partition input (no driver
    collect), and reads them back, values checked against the parquet
    original."""
    from hdfs2cass_spark.sinks.pipeline import bulk_load
    from hdfs2cass_spark.sources.readers import read_records, write_avro

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    avro_dir = tmp_path / "customer_avro"
    write_avro(cust.repartition(4), str(avro_dir), codec="deflate")
    assert len(glob.glob(f"{avro_dir}/*.avro")) == 4
    back = read_records(spark, str(avro_dir), fmt="avro")
    assert back.exceptAll(cust).isEmpty() and cust.exceptAll(back).isEmpty()
    routed = bulk_load(back, "cql://h/ks/t?reducers=4", rowkey="c_custkey", now_ms=42)
    assert routed.count() == cust.count()


def test_avro_builtin_reader_splits_and_codecs(spark, tmp_path):
    """Spark's Avro source at scale: multi-file input, splits smaller than
    one file (forced via maxPartitionBytes) cover every row exactly once,
    and every codec the writer produces decodes."""
    from avrofiles import avro_file

    from hdfs2cass_spark.sources.readers import read_records

    df = spark.range(5000).selectExpr(
        "id",
        "concat('name-', id) AS name",
        "CAST(id AS DOUBLE) / 7 AS score",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('v', id % 5) END AS maybe",
    )
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "maybe", "type": ["null", "string"]},
        ],
    }
    d = tmp_path / "multi"
    d.mkdir()
    for codec, fname in (("uncompressed", "a.avro"), ("deflate", "b.avro"), ("snappy", "c.avro")):
        # ~2 KB blocks: many sync points for the byte-range splits to divide
        avro_file(df, d / fname, schema, codec=codec, **{"avro.mapred.sync.interval": "2048"})
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    try:
        # 64 KiB splits => several tasks per file; union of 3 files
        spark.conf.set(key, "64k")
        back = read_records(spark, str(d), fmt="avro")
        assert back.rdd.getNumPartitions() > 3
        assert back.count() == 3 * 5000
        one = read_records(spark, str(d / "b.avro"), fmt="avro")
        assert sorted(map(tuple, one.collect())) == sorted(map(tuple, df.collect()))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_read_records_multi_path_union(spark, sf_dir, tmp_path):
    from hdfs2cass_spark.sources.readers import read_records

    one = read_records(spark, f"{sf_dir}/nation.parquet")
    two = read_records(spark, [f"{sf_dir}/nation.parquet", f"{sf_dir}/nation.parquet"])
    assert two.count() == 2 * one.count()


def test_read_records_csv_json_feed_the_same_pipeline(spark, sf_dir, tmp_path):
    """CSV and JSON inputs (with reader options passed through) run the
    identical reshape -> route dataflow the parquet path runs — a reference
    user's flat files need no staging conversion."""
    from hdfs2cass_spark.sinks.pipeline import bulk_load
    from hdfs2cass_spark.sources.readers import read_records

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    csv_dir, json_dir = str(tmp_path / "c.csv"), str(tmp_path / "c.json")
    cust.write.option("header", "true").csv(csv_dir)
    cust.write.json(json_dir)

    from_csv = read_records(spark, csv_dir, fmt="csv", header="true", inferSchema="true")
    from_json = read_records(spark, json_dir, fmt="json")
    for src in (from_csv, from_json):
        routed = bulk_load(src, "cql://h/ks/t?reducers=4", rowkey="c_custkey", now_ms=42)
        assert routed.count() == cust.count()
        assert {r["bucket"] for r in routed.select("bucket").distinct().collect()} <= set(range(4))


def test_cli_random_partitioner_end_to_end(spark, sf_dir, tmp_path):
    """--partitioner random routes over the MD5/BigIntegerToken ring: tokens
    are 39-digit zero-padded strings, sorted within each bucket, all rows
    kept."""
    import glob

    import pyarrow.parquet as pq

    from hdfs2cass_spark.cli import main

    out = str(tmp_path / "md5out")
    rc = main(
        [
            "--input", f"{sf_dir}/customer.parquet",
            "--rowkey", "c_custkey",
            "--output", "cql://h/ks/customer?reducers=4",
            "--simulated-path", out,
            "--now-ms", "42",
            "--partitioner", "random",
        ]
    )
    assert rc == 0
    total = 0
    dirs = sorted(glob.glob(f"{out}/bucket=*"))
    assert len(dirs) >= 1
    for d in dirs:
        t = pq.read_table(d)
        toks = t.column("token").to_pylist()
        assert toks == sorted(toks)
        assert all(isinstance(x, str) and len(x) == 39 for x in toks)
        total += t.num_rows
    src = pq.read_metadata(f"{sf_dir}/customer.parquet").num_rows
    assert total == src


def test_compressionclass_reaches_the_sink(spark, sf_dir, tmp_path):
    """The compressionclass= URI option maps Cassandra compressor classes to
    the sink codec (M2 fidelity) — verified in the written parquet footers."""
    import glob

    import pyarrow.parquet as pq
    import pytest

    from hdfs2cass_spark.sinks.pipeline import bulk_load

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = str(tmp_path / "gz")
    bulk_load(
        cust,
        "cql://h/ks/t?reducers=2&compressionclass=org.apache.cassandra.io.compress.DeflateCompressor",
        rowkey="c_custkey",
        now_ms=42,
        simulated_path=out,
    )
    f = glob.glob(f"{out}/bucket=*/*.parquet")[0]
    meta = pq.ParquetFile(f).metadata
    assert meta.row_group(0).column(0).compression == "GZIP"

    with pytest.raises(ValueError, match="compressionclass"):
        bulk_load(
            cust,
            "cql://h/ks/t?reducers=2&compressionclass=NoSuchCompressor",
            rowkey="c_custkey",
            now_ms=42,
            simulated_path=str(tmp_path / "bad"),
        )


def test_cli_timestamp_ttl_ignore_flags(spark, sf_dir, tmp_path):
    """M3 flag parity end-to-end: --timestamp/--ttl map those columns into
    writetime (µs) and ttl, --ignore drops the column from the output."""
    import glob

    import pyarrow.parquet as pq

    from hdfs2cass_spark.cli import main

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(1, "a", 1000, 60), (2, "b", 2000, 0)],
        "rowkey long, payload string, event_ms long, keep_secs int",
    ).write.parquet(src)

    out = str(tmp_path / "out")
    rc = main(
        [
            "--input", src,
            "--rowkey", "rowkey",
            "--timestamp", "event_ms",
            "--ttl", "keep_secs",
            "--ignore", "payload",
            "--output", "cql://h/ks/t?reducers=2",
            "--simulated-path", out,
        ]
    )
    assert rc == 0
    rows = {}
    for d in glob.glob(f"{out}/bucket=*"):
        t = pq.read_table(d)
        for i in range(t.num_rows):
            rows[t.column("_rowkey")[i].as_py()] = {
                c: t.column(c)[i].as_py() for c in t.column_names
            }
    assert set(rows) == {"1", "2"}
    # an explicit --timestamp column binds VERBATIM (the user supplies µs);
    # only the DEFAULT is stamped as currentTimeMillis()*1000 (AvroToCQL.java:63)
    assert rows["1"]["writetime"] == 1000
    assert rows["1"]["ttl"] == 60
    assert rows["2"]["ttl"] == 0
    assert "payload" not in rows["1"]  # --ignore drops the column
    assert "event_ms" not in rows["1"]  # timestamp source column is consumed


def test_avro_timestamp_roundtrip_is_microsecond_exact(spark, tmp_path):
    """Spark's Avro writer and reader carry timestamps microsecond-exact,
    on the adversarial odd-microsecond epochs where float64 resolution is
    ~0.5us: a float total_seconds()*1e6 + int() conversion corrupted ~1.2%
    of such timestamps by 1us."""
    import datetime as dt

    from hdfs2cass_spark.sources.readers import read_records, write_avro

    rows = [
        (0, dt.datetime(2005, 4, 17, 8, 29, 2, 646319)),  # the fuzz repro
        (1, dt.datetime(1999, 12, 31, 23, 59, 59, 999999)),
        (2, dt.datetime(2070, 1, 1, 0, 0, 0, 1)),
        (3, None),
    ] + [
        (10 + i, dt.datetime(2038, 1, 19, 3, 14, 7, 137 * i % 1000000))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp_ntz")
    p = str(tmp_path / "ts")
    write_avro(df, p)
    got = {r.k: r.ts for r in read_records(spark, p, fmt="avro").collect()}
    for k, want in rows:
        assert got[k] == want, (k, got[k], want)


def test_avro_nested_temporal_reads_exact_instant(spark, tmp_path):
    """A temporal logical type NESTED in a record/array reads back as the
    exact instant, like a top-level one (spark-avro semantics): declaring
    TimestampType while keeping raw millis would read them as MICROseconds,
    a silent 1000x corruption. The file stores the raw millis, read without
    Spark, so a unit error shared by Spark's writer and reader cannot cancel
    out."""
    from avrofiles import avro_file, stored_records

    from hdfs2cass_spark.sources.readers import read_records

    ts = {"type": "long", "logicalType": "timestamp-millis"}
    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "k", "type": "long"},
            {"name": "t", "type": ts},
            {"name": "nest", "type": {"type": "record", "name": "n", "fields": [
                {"name": "t2", "type": ts},
            ]}},
            {"name": "arr", "type": {"type": "array", "items": ts}},
        ],
    }
    millis = 1700000000123
    t = f"timestamp_millis({millis})"
    src = spark.sql(
        f"SELECT 1L AS k, {t} AS t, named_struct('t2', {t}) AS nest, array({t}) AS arr"
    )
    p = avro_file(src, tmp_path / "nested.avro", schema)
    assert stored_records(spark, p) == [
        {"k": 1, "t": millis, "nest": {"t2": millis}, "arr": [millis]}
    ]
    df = read_records(spark, p, fmt="avro")
    assert df.schema.simpleString() == (
        "struct<k:bigint,t:timestamp,nest:struct<t2:timestamp>,arr:array<timestamp>>"
    )
    got = df.selectExpr(
        "unix_millis(t)", "unix_millis(nest.t2)", "transform(arr, x -> unix_millis(x))"
    ).first()
    assert tuple(got) == (millis, millis, [millis])


def test_avro_reader_options_pass_through(spark, tmp_path):
    """Reader options reach Spark's Avro source: an avroSchema projection
    reads only the fields it names."""
    from avrofiles import avro_file

    from hdfs2cass_spark.sources.readers import read_records

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"}, {"name": "v", "type": "string"},
        ],
    }
    src = spark.createDataFrame([(7, "a")], "id bigint, v string")
    p = avro_file(src, tmp_path / "x.avro", schema)
    proj = '{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}'
    df = read_records(spark, p, fmt="avro", avroSchema=proj)
    assert df.schema.simpleString() == "struct<id:bigint>"
    assert [tuple(r) for r in df.collect()] == [(7,)]
