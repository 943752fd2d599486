"""Token routing tests (K1, G1-G3) + the end-to-end bulk-load pipeline."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hdfs2cass_spark.functions.murmur3 import MIN_TOKEN, cassandra_token
from hdfs2cass_spark.operators.partitioning import (
    bucket_expr,
    route_keys,
    route_to_buckets,
    shuffled_bucket_map,
    spark_hash_int,
    with_bucket,
    with_token,
)
from hdfs2cass_spark.sinks.pipeline import bulk_load


def test_with_token_matches_python(spark):
    df = spark.createDataFrame([Row(k="foo"), Row(k="bar"), Row(k="baz"), Row(k="")])
    got = {r["k"]: r["token"] for r in with_token(df, "k").collect()}
    assert got["foo"] == -2129773440516405919
    assert got["bar"] == -7911037993560119804
    assert got["baz"] == 8295379539955784970
    assert got[""] == MIN_TOKEN


def test_bucket_expr_covers_ring(spark):
    # MIN token -> bucket 0; MAX token -> bucket n-1; exact fixed boundaries
    df = spark.createDataFrame(
        [Row(token=MIN_TOKEN), Row(token=-1), Row(token=0), Row(token=2**63 - 1)]
    )
    out = df.select(bucket_expr("token", 8).alias("b")).collect()
    bs = [r["b"] for r in out]
    assert bs[0] == 0
    assert bs[-1] == 7
    assert all(0 <= b < 8 for b in bs)


def test_shuffled_bucket_map_is_permutation():
    m = shuffled_bucket_map(16, seed=42)
    assert sorted(m) == list(range(16))
    assert m == shuffled_bucket_map(16, seed=42)  # deterministic


def test_route_sorts_within_partitions(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = cust.select(F.col("c_custkey").cast("string").alias("k"), "c_name")
    routed = route_to_buckets(df, 4, key_col="k", shuffle_seed=None)

    def check(it):
        rows = list(it)
        toks = [(r["bucket"], r["token"]) for r in rows]
        assert toks == sorted(toks)
        # all rows of one bucket are contiguous in one partition
        return iter([len(rows)])

    counts = routed.rdd.mapPartitions(check).collect()
    assert sum(counts) == cust.count()


def test_route_tokens_are_correct(spark):
    df = spark.createDataFrame([Row(k=f"key{i}") for i in range(50)])
    routed = route_to_buckets(df, 4, key_col="k", shuffle_seed=None)
    for r in routed.collect():
        assert r["token"] == cassandra_token(r["k"])


def test_spark_hash_int_twin_matches_spark(spark):
    # every int the route-key search visits for up to 256 sink tasks
    top = max(max(route_keys(k)) for k in range(1, 257))
    got = [r[0] for r in spark.range(-8, top + 1).select(F.hash(F.col("id").cast("int"))).collect()]
    assert got == [spark_hash_int(i) for i in range(-8, top + 1)]
    spark_hashes = got[8:]  # ints 0..top
    for k in (1, 3, 16, 256):
        # keys[p] is the first int whose Spark hash pmod k is p
        residues = [h % k for h in spark_hashes]
        assert list(route_keys(k)) == [residues.index(p) for p in range(k)]


@pytest.mark.parametrize("n", [1, 3, 4, 16, 64])
@pytest.mark.parametrize("partitioner", ["murmur3", "random"])
def test_each_bucket_routes_to_one_task(spark, n, partitioner):
    from hdfs2cass_spark.config import MURMUR3, RANDOM

    df = spark.range(3000).select(F.concat(F.lit("key"), F.col("id")).alias("k"))
    routed = route_to_buckets(
        df, n, key_col="k", partitioner={"murmur3": MURMUR3, "random": RANDOM}[partitioner]
    )
    k = min(n, spark.sparkContext.defaultParallelism)
    assert routed.rdd.getNumPartitions() == k
    placed = (
        routed.select("bucket", F.spark_partition_id().alias("task")).distinct().collect()
    )
    assert all(r["task"] == r["bucket"] % k for r in placed)
    buckets = [r["bucket"] for r in placed]
    assert len(buckets) == len(set(buckets))  # no bucket split across tasks
    assert set(buckets) <= set(range(n))


def test_bulk_load_end_to_end(spark, sf_dir, tmp_path):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # 16 and 64 reducers exceed the core count: a task writes several
    # buckets one after another, still one token-sorted file per bucket
    for reducers in (4, 16, 64):
        out = str(tmp_path / f"sstables{reducers}")
        routed = bulk_load(
            cust,
            f"cql://localhost/ks/customer?reducers={reducers}",
            rowkey="c_custkey",
            now_ms=42,
            simulated_path=out,
        )
        dirs = sorted(glob.glob(os.path.join(out, "bucket=*")))
        assert 1 <= len(dirs) <= reducers
        total = 0
        for d in dirs:
            assert 0 <= int(d.rsplit("=", 1)[1]) < reducers
            files = glob.glob(os.path.join(d, "*.parquet"))
            assert len(files) == 1, d
            toks = pq.read_table(files[0]).column("token").to_pylist()
            assert toks == sorted(toks)  # append-only order inside each bucket
            total += len(toks)
        assert total == cust.count()
    assert routed.columns[0] == "_rowkey"


def test_bulk_load_distribute_randomly(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    routed = bulk_load(
        cust,
        "cql://localhost/ks/customer?reducers=4&distributerandomly",
        rowkey="c_custkey",
        now_ms=42,
    )
    # escape hatch: no token/bucket columns, plain round-robin
    assert "token" not in routed.columns
    assert routed.rdd.getNumPartitions() == 4


def test_uri_dsl():
    from hdfs2cass_spark.config import CassandraParams

    p = CassandraParams.parse(
        "thrift://host.example.net:9161/ks/tbl?reducers=5&columnnames=a,b"
        "&streamthrottlembits=100&distributerandomly&rpcport=9160"
    )
    assert (p.protocol, p.host, p.port) == ("thrift", "host.example.net", 9161)
    assert (p.keyspace, p.table) == ("ks", "tbl")
    assert p.reducers == 5
    assert p.columnnames == ["a", "b"]
    assert p.streamthrottlembits == 100
    assert p.distribute_randomly
    assert p.rpcport == 9160


def test_uri_dsl_deprecated_and_errors():
    import warnings

    from hdfs2cass_spark.config import CassandraParams

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        CassandraParams.parse("cql://h/ks/t?mappers=3")
        assert any("deprecated" in str(x.message) for x in w)
    with pytest.raises(ValueError):
        CassandraParams.parse("http://h/ks/t")
    with pytest.raises(ValueError):
        CassandraParams.parse("cql://h/onlyks")


def test_default_reducers_is_node_count():
    from hdfs2cass_spark.config import CassandraParams, TargetInfo

    p = CassandraParams.parse("cql://h/ks/t")
    t = TargetInfo("ks", "t", ["a"], ["a"], num_nodes=7)
    assert p.num_partitions(t) == 7  # CassandraParams.java:111-115
    assert CassandraParams.parse("cql://h/ks/t?reducers=3").num_partitions(t) == 3


def test_binary_key_expr_matches_serde(spark, sf_dir):
    """The pure-Catalyst composite key == the serde envelope, byte for byte.

    Components are schema-typed (Cassandra's per-column-type serializer model):
    a LongType column is always 8 bytes even for small values — so expectations
    pack widths explicitly rather than via value-inferring to_cassandra_bytes.
    """
    import struct

    from hdfs2cass_spark.functions.serde import compose_partition_key
    from hdfs2cass_spark.operators.partitioning import binary_key_expr

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = c.select(
        "c_name", "c_custkey", "c_nationkey", "c_acctbal",
        binary_key_expr(c, ["c_name"]).alias("k1"),
        binary_key_expr(c, ["c_name", "c_custkey", "c_nationkey"]).alias("k3"),
        binary_key_expr(c, ["c_name", "c_custkey", "c_nationkey", "c_acctbal"]).alias("k4"),
    ).collect()
    for r in out:
        comps = (
            r["c_name"].encode(),
            struct.pack(">q", r["c_custkey"]),  # bigint column: 8 bytes
            struct.pack(">i", r["c_nationkey"]),  # int column: 4 bytes
        )
        assert bytes(r["k1"]) == comps[0]
        assert bytes(r["k3"]) == compose_partition_key(*comps)
        # double column: 8 bytes of IEEE 754 bits
        acctbal = struct.pack(">d", r["c_acctbal"])
        assert bytes(r["k4"]) == compose_partition_key(*comps, acctbal)


def test_binary_key_expr_negative_ints(spark):
    import struct

    from hdfs2cass_spark.operators.partitioning import binary_key_expr

    df = spark.createDataFrame(
        [Row(a=-1, b=-(2**40))], schema="a int, b long"
    )
    r = df.select(
        binary_key_expr(df, ["a", "b"]).alias("k"),
    ).collect()[0]
    expect = (
        b"\x00\x04" + struct.pack(">i", -1) + b"\x00"
        + b"\x00\x08" + struct.pack(">q", -(2**40)) + b"\x00"
    )
    assert bytes(r["k"]) == expect


def test_bulk_load_composite_rowkey(spark, sf_dir):
    import struct

    from hdfs2cass_spark.functions.murmur3 import cassandra_token
    from hdfs2cass_spark.functions.serde import compose_partition_key

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    routed = bulk_load(
        cust, "cql://h/ks/t?reducers=4", rowkey=["c_name", "c_custkey"], now_ms=42
    )
    rows = routed.collect()
    assert len(rows) == cust.count()
    for r in rows[:30]:
        expected_pk = compose_partition_key(
            r["c_name"].encode(), struct.pack(">q", r["c_custkey"])
        )
        assert bytes(r["_pk"]) == expected_pk
        assert r["token"] == cassandra_token(expected_pk)


def test_bulk_load_thrift_composite_raises(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    with pytest.raises(ValueError):
        bulk_load(cust, "thrift://h/ks/t", rowkey=["c_name", "c_custkey"])


# ---------------------------------------------------------------------------
# RandomPartitioner (MD5 / BigIntegerToken) branch — CassandraPartitioner.java:63-68
# ---------------------------------------------------------------------------


def test_md5_token_golden():
    # abs(BigInteger(md5(key))): the digest as a SIGNED big-endian 128-bit int,
    # then abs (FBUtilities.hashToBigInteger). Derivable from the published
    # md5("foo") = acbd18db4cc2f85cedef654fccc4a4d8 (sign bit set -> 2^128 - x).
    from hdfs2cass_spark.functions.md5token import md5_token

    assert md5_token(b"foo") == 110673303387115207421586718101067225896
    assert md5_token(b"bar") == 74047935693191174550601131226829771250
    assert md5_token(b"baz") == 154185247982134792683269854420778577544
    assert md5_token(b"") == 0  # empty key -> MINIMUM (RandomPartitioner.ZERO)
    assert md5_token("foo") == md5_token(b"foo")  # str tokenized as utf-8


def test_md5_route_buckets_and_sort(spark):
    from hdfs2cass_spark.config import RANDOM
    from hdfs2cass_spark.functions.md5token import md5_token, range_per_bucket_md5

    df = spark.createDataFrame([Row(k=f"key{i}") for i in range(100)])
    routed = route_to_buckets(df, 4, key_col="k", shuffle_seed=None, partitioner=RANDOM)
    rows = routed.collect()
    rng = range_per_bucket_md5(4)
    for r in rows:
        t = md5_token(r["k"])
        assert int(r["token"]) == t
        assert len(r["token"]) == 39  # zero-padded -> lexicographic == numeric
        assert r["bucket"] == t // rng
    # in-partition (bucket, token) sort order holds per partition
    parts = routed.select("bucket", "token").rdd.glom().collect()
    for p in parts:
        toks = [(r["bucket"], r["token"]) for r in p]
        assert toks == sorted(toks)


def test_bulk_load_random_partitioner_target(spark):
    from hdfs2cass_spark.config import RANDOM, TargetInfo

    df = spark.createDataFrame([Row(user_id=f"u{i}", plays=i) for i in range(50)])
    target = TargetInfo(
        keyspace="ks", table="t", columns=["user_id", "plays"],
        partition_key_columns=["user_id"], partitioner=RANDOM, num_nodes=4,
    )
    routed = bulk_load(df, "cql://h/ks/t", rowkey="user_id", target=target, now_ms=42)
    assert dict(routed.dtypes)["token"] == "string"  # 128-bit tokens ride as strings
    # reducers default = node count: 4 buckets, in at most one task per core
    buckets = {r["bucket"] for r in routed.select("bucket").distinct().collect()}
    assert len(buckets) <= 4 and max(buckets) < 4
    assert routed.rdd.getNumPartitions() == min(4, spark.sparkContext.defaultParallelism)


def test_composite_component_over_64k_raises(spark):
    from hdfs2cass_spark.operators.partitioning import binary_key_expr

    df = spark.createDataFrame([Row(a="x" * 70000, b="y")])
    expr = binary_key_expr(df, ["a", "b"])
    with pytest.raises(Exception, match="65535"):
        df.select(expr.alias("pk")).collect()


def test_binary_key_expr_null_components(spark):
    """NULL key components encode as the EMPTY buffer, matching
    toByteBuffer(null) -> empty (CassandraRecordUtils.java:81-82) and the
    Python twin — never a null-propagated NULL key. A null single-column key
    therefore tokenizes to the empty-key MIN token."""
    from pyspark.sql import Row

    from hdfs2cass_spark.functions.murmur3 import MIN_TOKEN
    from hdfs2cass_spark.functions.serde import compose_partition_key
    from hdfs2cass_spark.operators.partitioning import binary_key_expr, with_token

    df = spark.createDataFrame(
        [
            Row(s=None, i=None, l=None),
            Row(s=None, i=7, l=9),
            Row(s="x", i=None, l=2),
        ],
        schema="s string, i int, l long",
    )
    out = df.select(
        binary_key_expr(df, ["s", "i", "l"]).alias("k3"),
        binary_key_expr(df, ["s"]).alias("k1"),
    ).collect()

    import struct

    def twin(s, i, l):
        return compose_partition_key(
            b"" if s is None else s.encode(),
            b"" if i is None else struct.pack(">i", i),
            b"" if l is None else struct.pack(">q", l),
        )

    assert bytes(out[0]["k3"]) == twin(None, None, None)
    assert bytes(out[1]["k3"]) == twin(None, 7, 9)
    assert bytes(out[2]["k3"]) == twin("x", None, 2)
    # null single-column key -> EMPTY bytes -> MIN token (the reference's
    # empty-key edge case), not a null token
    assert bytes(out[0]["k1"]) == b""
    toks = with_token(df.select(binary_key_expr(df, ["s"]).alias("pk")), "pk").collect()
    assert toks[0]["token"] == MIN_TOKEN


@pytest.mark.slow
def test_bucket_expr_exact_vs_python_bigint(spark):
    """The int64 split-division bucket must equal exact Python big-int
    arithmetic floor((token + 2^63) / ceil(2^64 / n)) for every bucket count
    shape (the <4 comparison chain, the >=4 split-division path, and
    non-power-of-two n) on adversarial tokens: ring ends, zero crossings,
    and every bucket boundary +/- 1."""
    import random

    for n in (1, 2, 3, 4, 5, 16, 60, 1024):
        range_per = 2**64 // n + (1 if 2**64 % n else 0)
        tokens = {MIN_TOKEN, MIN_TOKEN + 1, -1, 0, 1, 2**63 - 1, 2**63 - 2}
        for i in range(1, n):
            b = MIN_TOKEN + i * range_per
            tokens.update((b - 1, b, b + 1))
        rnd = random.Random(13)
        tokens.update(rnd.randrange(-(2**63), 2**63) for _ in range(500))
        tokens = sorted(t for t in tokens if MIN_TOKEN <= t < 2**63)
        df = spark.createDataFrame([Row(token=t) for t in tokens])
        got = [
            r["b"]
            for r in df.select(bucket_expr("token", n).alias("b"))
            .orderBy("token")
            .collect()
        ]
        want = [(t + 2**63) // range_per for t in tokens]
        assert got == want, f"n={n}: first diff at {next(i for i in range(len(got)) if got[i] != want[i])}"


def test_md5_route_digest_path_edge_keys(spark):
    """The MD5 token of CAST(key AS BINARY) must agree with the scalar spec
    on the edge keys: empty string and NULL (-> RandomPartitioner.ZERO),
    multi-byte UTF-8, and raw BINARY keys (cast is a no-op there)."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from hdfs2cass_spark.functions.md5token import md5_token
    from hdfs2cass_spark.operators.partitioning import with_md5_token_bucket

    sdf = spark.createDataFrame(
        [Row(k="", i=0), Row(k=None, i=1), Row(k="héllo wörld", i=2), Row(k="foo", i=3)]
    )
    got = {r["i"]: int(r["token"]) for r in with_md5_token_bucket(sdf, "k", 8).collect()}
    assert got[0] == 0 and got[1] == 0  # empty and NULL -> MINIMUM
    assert got[2] == md5_token("héllo wörld")  # utf-8 bytes, not latin-1
    assert got[3] == md5_token(b"foo")

    bdf = spark.createDataFrame(
        [(bytearray(b"\x00\xff\x80"),), (bytearray(b""),)],
        StructType([StructField("k", BinaryType())]),
    )
    got = [int(r["token"]) for r in with_md5_token_bucket(bdf, "k", 8).collect()]
    assert sorted(got) == sorted([md5_token(b"\x00\xff\x80"), 0])


def test_md5_route_dotted_column_name(spark):
    """Key columns whose NAMES need backticks (dots, spaces, hyphens) must
    route — the key is built with Column APIs, not an interpolated SQL
    string that would parse the dot as a field path."""
    from hdfs2cass_spark.functions.md5token import md5_token
    from hdfs2cass_spark.operators.partitioning import with_md5_token_bucket

    sdf = spark.range(1).select(F.lit("foo").alias("user.key"))
    got = with_md5_token_bucket(sdf, "user.key", 8).collect()
    assert int(got[0]["token"]) == md5_token(b"foo")


def test_prepared_statement_matches_reference_builder():
    """TargetInfo.prepared_statement == CassandraClusterInfo.buildPreparedStatement
    byte-for-byte (CassandraClusterInfo.java:160-172), including the
    reference's trailing-space-before-paren quirk, the columnnames= order
    override, and the USING TIMESTAMP/TTL tail the per-row binds fill."""
    import pytest

    from hdfs2cass_spark.config import TargetInfo

    ti = TargetInfo(
        keyspace="ks",
        table="songstreams",
        columns=["user_id", "ts", "track"],
        partition_key_columns=["user_id"],
    )
    assert ti.prepared_statement() == (
        "INSERT INTO ks.songstreams (user_id, ts, track ) VALUES (?, ?, ? ) "
        "USING TIMESTAMP ? AND TTL ?;"
    )
    # columnnames= override reorders; single column keeps the quirk
    assert ti.prepared_statement(["track"]) == (
        "INSERT INTO ks.songstreams (track ) VALUES (? ) USING TIMESTAMP ? AND TTL ?;"
    )
    with pytest.raises(ValueError, match="not in target table"):
        ti.prepared_statement(["nope"])


def test_target_info_from_metadata_maps_driver_shapes():
    """M1 live-fetch mapping (CassandraClusterInfo.java:61-109): driver
    TableMetadata -> TargetInfo, with the reference's own failure branches
    (unknown partitioner = the Class.forName throw; partition-key column
    missing from the column list = 'no matching column for key')."""
    from types import SimpleNamespace

    import pytest

    from hdfs2cass_spark.config import MURMUR3, target_info_from_metadata

    tb = SimpleNamespace(
        keyspace_name="ks",
        name="t",
        columns={"a": object(), "b": object(), "c": object()},  # ordered
        partition_key=[SimpleNamespace(name="b")],
    )
    ti = target_info_from_metadata(tb, MURMUR3, 5)
    assert ti.columns == ["a", "b", "c"]
    assert ti.partition_key_columns == ["b"]
    assert ti.partition_key_indexes == [1]
    assert ti.num_nodes == 5
    assert ti.prepared_statement().startswith("INSERT INTO ks.t (a, b, c )")

    with pytest.raises(ValueError, match="No such partitioner"):
        target_info_from_metadata(tb, "org.example.Nope", 5)
    tb_bad = SimpleNamespace(
        keyspace_name="ks", name="t",
        columns={"a": object()}, partition_key=[SimpleNamespace(name="zz")],
    )
    with pytest.raises(ValueError, match="no matching column for key"):
        target_info_from_metadata(tb_bad, MURMUR3, 1)


def test_fetch_target_info_is_import_gated():
    import pytest

    from hdfs2cass_spark.config import fetch_target_info

    try:
        import cassandra  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="DataStax python driver"):
            fetch_target_info("localhost", "ks", "t")
    else:  # pragma: no cover — driver present in some environments
        pytest.skip("cassandra-driver installed; gate test not applicable")


def test_distribute_randomly_bounds_skew(spark):
    """r12 verdict item 6: the reference's `distributerandomly` escape hatch
    (CassandraPartitioner.java:58-60) must BOUND task skew under a zipf-hot
    partition key. Token routing keeps a partition key inside one bucket by
    contract, so a 90%-hot key makes one task carry ~90% of the rows; the
    round-robin hatch spreads the same rows near-uniformly. scripts/
    route_skew_probe.py measures the same surfaces at scale."""
    n, parts = 8000, 8
    # 90% of rows share one key, the rest spread over 100 cold keys
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hotuser"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 100).cast("string")))
        .alias("key")
    )

    def task_sizes(routed):
        rows = (
            routed.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return sorted((int(r["count"]) for r in rows), reverse=True)

    hot = task_sizes(route_to_buckets(df, parts, "key"))
    assert sum(hot) == n
    # the hot key's bucket dominates its task: this is the sink CONTRACT
    # (one partition key -> one SSTable range), the skew the hatch escapes
    assert hot[0] >= n * 0.9

    rand = task_sizes(route_to_buckets(df, parts, "key", distribute_randomly=True))
    assert sum(rand) == n
    mean = n / parts
    # round-robin: every task within 30% of the mean (Spark's round-robin
    # repartition is near-exact; the margin absorbs per-partition remainders)
    assert rand[0] <= mean * 1.3
    assert len(rand) == parts
