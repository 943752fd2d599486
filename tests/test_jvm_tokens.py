"""The JVM token functions (hdfs2cass_spark/jvm/Tokens.java) against the
scalar specs, and how the package's Java functions are built and registered.

The differential tests run one Spark job each over a seeded batch of 20k+
keys: every length 0-70 (so every murmur3 block/tail shape), tail bytes
>= 0x80 (Cassandra sign-extends them), NULL, non-ASCII strings and the
reference's golden keys."""

import os
import random
import subprocess
import sys
import textwrap
import zipfile

import pytest
from pyspark.sql import functions as F

from hdfs2cass_spark import jvm
from hdfs2cass_spark.functions.md5token import TOKEN_WIDTH, md5_token, range_per_bucket_md5
from hdfs2cass_spark.functions.murmur3 import MIN_TOKEN, cassandra_token
from hdfs2cass_spark.operators.partitioning import with_token

GOLDENS = {
    b"foo": -2129773440516405919,
    b"bar": -7911037993560119804,
    b"baz": 8295379539955784970,
    b"": MIN_TOKEN,
}
MD5_BUCKETS = (1, 2, 3, 8, 32, 257)
NON_ASCII = "héllo wörld ж 中文 \U0001f600 ñ"


def _batch(spark):
    """(keys, strs, df): binary key k and string key s for each row i."""
    rnd = random.Random(20240)
    keys = []
    for length in range(71):
        for _ in range(290):
            keys.append(bytes(rnd.randrange(256) for _ in range(length)))
        keys.append(b"\xff" * length)  # every tail byte sign-extends
        keys.append(bytes(rnd.randrange(0x80, 0x100) for _ in range(length)))
    keys += list(GOLDENS) + [None]
    strs = [
        None if i % 97 == 0 else "".join(rnd.choice(NON_ASCII) for _ in range(i % 40))
        for i in range(len(keys))
    ]
    strs[:4] = ["foo", "", None, NON_ASCII]
    df = spark.createDataFrame(
        [(i, k, s) for i, (k, s) in enumerate(zip(keys, strs))], "i int, k binary, s string"
    )
    return keys, strs, df


def test_murmur3_jvm_matches_scalar(spark):
    keys, strs, df = _batch(spark)
    assert len(keys) >= 20_000
    out = with_token(with_token(df, "k", "kt"), "s", "st").select("i", "kt", "st").collect()
    assert len(out) == len(keys)
    for r in out:
        assert r["kt"] == cassandra_token(keys[r["i"]]), keys[r["i"]]
        assert r["st"] == cassandra_token(strs[r["i"]]), strs[r["i"]]
    got = {keys[r["i"]]: r["kt"] for r in out if keys[r["i"]] in GOLDENS}
    assert got == GOLDENS


def test_md5_jvm_matches_scalar(spark):
    """Token string and bucket for bucket counts 1-257. No MD5 preimage is
    known to land on a bucket boundary k*range (k >= 1), so boundaries are
    covered by the empty/NULL keys (token 0, the lower edge of bucket 0) and
    by a batch that fills every bucket at every count, which checks the keys
    nearest each boundary on both sides."""
    keys, strs, df = _batch(spark)
    jvm.ensure_registered(spark)
    cols = []
    for n in MD5_BUCKETS:
        for c in ("k", "s"):
            tb = F.call_function(jvm.MD5_TOKEN_BUCKET, F.col(c).cast("binary"), F.lit(n))
            cols.append(tb.alias(f"{c}{n}"))
    out = df.select("i", *cols).collect()
    assert len(out) == len(keys)
    want = {c: [md5_token(k) for k in ks] for c, ks in (("k", keys), ("s", strs))}
    for n in MD5_BUCKETS:
        rp = range_per_bucket_md5(n)
        seen = set()
        for r in out:
            for c in ("k", "s"):
                key, t = (keys if c == "k" else strs)[r["i"]], want[c][r["i"]]
                assert r[f"{c}{n}"]["token"] == str(t).zfill(TOKEN_WIDTH), (key, n)
                assert r[f"{c}{n}"]["bucket"] == t // rp, (key, n)
                seen.add(t // rp)
        assert seen == set(range(n)), n
    # the md5("foo") digest has its sign bit set: abs() of the signed value
    foo = next(r for r in out if keys[r["i"]] == b"foo")
    assert foo["k8"]["token"] == "110673303387115207421586718101067225896"
    for r in out:
        if keys[r["i"]] in (b"", None):
            assert r["k257"]["token"] == "0" * TOKEN_WIDTH and r["k257"]["bucket"] == 0


def test_registers_in_vanilla_and_new_sessions(tmp_path):
    """A session built straight from SparkSession.builder (no get_session
    confs) and its newSession() both get the functions on first use."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from hdfs2cass_spark.operators.partitioning import with_md5_token_bucket, with_token
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        df = spark.createDataFrame([("foo",)], "k string")
        print(with_token(df, "k").first()["token"])
        other = spark.newSession()
        df = other.createDataFrame([("foo",)], "k string")
        print(with_md5_token_bucket(df, "k", 8, shuffle_seed=None).first()["token"])
        spark.stop()
        """
    )
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True, text=True, timeout=300
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.split() == [str(GOLDENS[b"foo"]), str(md5_token(b"foo")).zfill(TOKEN_WIDTH)]


def _fresh_session_token(spark):
    """with_token in a session that has not registered the functions yet."""
    other = spark.newSession()
    return with_token(other.createDataFrame([("foo",)], "k string"), "k").first()["token"]


def test_cached_jar_is_reused_without_javac(spark, monkeypatch):
    jar = jvm.jar_path()

    def no_javac(*a, **k):
        raise AssertionError("javac ran although the jar is cached")

    monkeypatch.setattr(jvm.subprocess, "run", no_javac)
    assert jvm.jar_path() == jar
    assert _fresh_session_token(spark) == GOLDENS[b"foo"]


def test_missing_javac_names_the_jdk(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(jvm.tempfile, "tempdir", str(tmp_path))  # cold cache
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "nojdk"))
    monkeypatch.setattr(jvm.shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="needs a JDK"):
        _fresh_session_token(spark)
    assert os.listdir(tmp_path) == []


def test_jar_name_covers_every_java_source():
    """The jar is keyed on every Java source, so an edit to either one builds
    a new jar instead of loading a stale cached one."""
    sources = jvm._sources()
    assert sorted(sources) == ["Media.java", "Tokens.java"]
    name = jvm._jar_name(sources)
    for edited in sources:
        changed = {**sources, edited: sources[edited] + b"\n// edited\n"}
        assert jvm._jar_name(changed) != name
    assert os.path.basename(jvm.jar_path()) == name


def _assert_token_jar(jar):
    with zipfile.ZipFile(jar) as z:
        assert z.testzip() is None
        assert {
            "hdfs2cass_spark/jvm/Tokens.class",
            "hdfs2cass_spark/jvm/Tokens$Murmur3.class",
            "hdfs2cass_spark/jvm/Tokens$Md5Bucket.class",
            "hdfs2cass_spark/jvm/Media$Decode.class",
        } <= set(z.namelist())


def test_half_written_jar_is_never_loaded(tmp_path, monkeypatch):
    """A build that dies while zipping leaves no file at the cache path, and
    a stale temp file from such a build is never picked up."""
    monkeypatch.setattr(jvm.tempfile, "tempdir", str(tmp_path))
    cache = tmp_path / f"hdfs2cass_spark-{os.getuid()}"
    real_write = zipfile.ZipFile.write
    calls = []

    def dying_write(self, *a, **k):
        calls.append(a)
        if len(calls) == 2:
            raise OSError("disk full")
        return real_write(self, *a, **k)

    monkeypatch.setattr(zipfile.ZipFile, "write", dying_write)
    with pytest.raises(OSError, match="disk full"):
        jvm.jar_path()
    assert os.listdir(cache) == []

    (cache / "killed-build.jar.tmp").write_bytes(b"PK\x03\x04 half")
    monkeypatch.setattr(zipfile.ZipFile, "write", real_write)
    jar = jvm.jar_path()
    assert os.path.dirname(jar) == str(cache) and jar.endswith(".jar")
    assert os.stat(cache).st_mode & 0o777 == 0o700
    _assert_token_jar(jar)


@pytest.mark.parametrize("spoil", ["unreadable", "group_writable", "foreign_jar", "foreign_dir"])
def test_untrusted_cached_jar_is_rebuilt(tmp_path, monkeypatch, spoil):
    """The cache sits at a guessable path in the shared temp dir, so a jar
    there is loaded only if this user owns it and its directory and nobody
    else can write them; any other jar is rebuilt, never loaded."""
    monkeypatch.setattr(jvm.tempfile, "tempdir", str(tmp_path))
    jar = jvm.jar_path()
    cache = os.path.dirname(jar)
    if spoil == "unreadable":
        os.chmod(jar, 0)
    elif spoil == "group_writable":
        os.chmod(jar, 0o664)
    else:
        if os.geteuid() != 0:
            pytest.skip("planting a file owned by another user needs root")
        if spoil == "foreign_jar":
            with open(jar, "wb") as f:
                f.write(b"planted")
            os.chown(jar, os.getuid() + 1, -1)
        else:
            os.chown(cache, os.getuid() + 1, -1)
    real_run = subprocess.run
    runs = []
    monkeypatch.setattr(jvm.subprocess, "run", lambda *a, **k: runs.append(a) or real_run(*a, **k))
    rebuilt = jvm.jar_path()
    assert len(runs) == 1
    # a foreign directory is left alone: the jar is built in a private one
    assert (rebuilt == jar) == (spoil != "foreign_dir")
    st = os.lstat(rebuilt)
    assert st.st_uid == os.getuid() and st.st_mode & 0o077 == 0
    _assert_token_jar(rebuilt)
