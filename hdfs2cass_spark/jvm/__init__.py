"""JVM-side Cassandra token functions (``Tokens.java``), built and registered
on first use.

The bulk-load map stage needs only two functions Spark lacks: Cassandra's
Murmur3 token (vanilla murmur3 masks tail bytes, Cassandra sign-extends them)
and the RandomPartitioner MD5 token with its reducer bucket. Both are Java
``UDF1``/``UDF2`` classes, so the stage stays inside whole-stage codegen and a
bulk load starts no Python worker.

The source ships with the package. On first use it is compiled with ``javac``
against pyspark's jars into a jar cached in a per-user directory under the
temp dir (``hdfs2cass_spark-<uid>``, mode 0700), keyed by the source's sha.
A cached jar is loaded only if it and that directory belong to the current
user and are not group- or other-writable, so a jar that another user planted
at a guessable path is never loaded: it is rebuilt instead. The jar is written
under a temporary name and renamed into place, so a crashed build never
leaves a file that a later run would load. Each SparkSession then gets
``ADD JAR`` (which also ships the jar to executors) and
``registerJavaFunction`` once, lazily, so sessions built outside
``get_session``, ``newSession()`` and ``foreachBatch`` sessions work alike.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import subprocess
import tempfile
import zipfile
from importlib import resources

from pyspark.sql import SparkSession
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

MURMUR3_TOKEN = "h2c_m3tok"
MD5_TOKEN_BUCKET = "h2c_md5tok"

_FUNCTIONS = {
    MURMUR3_TOKEN: ("hdfs2cass_spark.jvm.Tokens$Murmur3", LongType()),
    MD5_TOKEN_BUCKET: (
        "hdfs2cass_spark.jvm.Tokens$Md5Bucket",
        StructType([StructField("token", StringType()), StructField("bucket", IntegerType())]),
    ),
}


def _javac() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "javac")):
        return os.path.join(home, "bin", "javac")
    found = shutil.which("javac")
    if found is None:
        raise RuntimeError(
            "hdfs2cass_spark needs a JDK to build its Cassandra token functions: "
            "no javac under JAVA_HOME or on PATH; install a JDK (17+) and set JAVA_HOME"
        )
    return found


def _private(path: str, is_kind) -> bool:
    """``path`` exists as ``is_kind`` (no symlink), belongs to this user, is
    readable by them and writable by nobody else."""
    try:
        st = os.lstat(path)
    except FileNotFoundError:
        return False
    return is_kind(st.st_mode) and st.st_uid == os.getuid() and st.st_mode & 0o422 == 0o400


def jar_path() -> str:
    """The token jar, compiled on the first call for this source."""
    source = resources.files(__name__).joinpath("Tokens.java").read_bytes()
    name = f"tokens-{hashlib.sha256(source).hexdigest()[:16]}.jar"
    cache = os.path.join(tempfile.gettempdir(), f"hdfs2cass_spark-{os.getuid()}")
    if _private(cache, stat.S_ISDIR) and _private(os.path.join(cache, name), stat.S_ISREG):
        return os.path.join(cache, name)
    from pyspark.find_spark_home import _find_spark_home

    javac = _javac()
    with tempfile.TemporaryDirectory(prefix="hdfs2cass_spark-javac-") as work:
        src = os.path.join(work, "Tokens.java")
        with open(src, "wb") as f:
            f.write(source)
        classes = os.path.join(work, "classes")
        # the jars pyspark launches its JVM with, so the build matches the runtime
        cp = os.path.join(_find_spark_home(), "jars", "*")
        done = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", cp, "-d", classes, src],
            capture_output=True,
            text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed to build {src}:\n{done.stderr}")
        if not _private(cache, stat.S_ISDIR):
            try:
                os.mkdir(cache, 0o700)
            except FileExistsError:
                pass
            if not _private(cache, stat.S_ISDIR):
                # the per-user name is held by another user or writable by others:
                # build uncached, in a fresh private directory
                cache = tempfile.mkdtemp(prefix="hdfs2cass_spark-")
        jar = os.path.join(cache, name)
        fd, tmp = tempfile.mkstemp(dir=cache, suffix=".jar.tmp")
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
                for d, _, names in os.walk(classes):
                    for n in sorted(names):
                        p = os.path.join(d, n)
                        z.write(p, os.path.relpath(p, classes))
            os.replace(tmp, jar)
        except BaseException:
            os.unlink(tmp)
            raise
    return jar


def ensure_registered(spark: SparkSession) -> None:
    """Make the token functions callable by name in ``spark``. The jar lands in
    the SparkContext, so a second ``ADD JAR`` of it (a new session of the same
    application, or racing callers) is a no-op that Spark logs as a warning."""
    if spark.catalog.functionExists(MURMUR3_TOKEN):
        return
    spark.sql(f"ADD JAR '{jar_path()}'")
    for name, (cls, dtype) in _FUNCTIONS.items():
        spark.udf.registerJavaFunction(name, cls, dtype)
