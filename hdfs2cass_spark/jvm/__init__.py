"""JVM-side functions, built and registered on first use: the Cassandra
token functions and serializers (``Tokens.java``) and the media codecs
(``Media.java``).

The bulk-load map stage needs only two functions Spark lacks: Cassandra's
Murmur3 token (vanilla murmur3 masks tail bytes, Cassandra sign-extends them)
and the RandomPartitioner MD5 token with its reducer bucket. Both are Java
``UDF1``/``UDF2`` classes, so the stage stays inside whole-stage codegen and a
bulk load starts no Python worker. Three more serialize the values Catalyst
cannot (``functions/serde.cassandra_hex``): double, float and decimal. The
image functions decode, resize, split into frames and encode JPEG, PNG, GIF
and netpbm payloads on the JDK's ``javax.imageio``, and the audio function
reads RIFF/WAVE PCM on ``javax.sound.sampled``, so media queries start no
Python worker either.

The sources ship with the package. On first use they are compiled with
``javac`` against pyspark's jars into one jar cached in a per-user directory
under the temp dir (``hdfs2cass_spark-<uid>``, mode 0700), keyed by the sha
of every ``*.java`` source, so an edit to any of them builds a new jar.
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
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MURMUR3_TOKEN = "h2c_m3tok"
MD5_TOKEN_BUCKET = "h2c_md5tok"
DOUBLE_BYTES = "h2c_double_bytes"
FLOAT_BYTES = "h2c_float_bytes"
DECIMAL_BYTES = "h2c_decimal_bytes"
MEDIA_DECODE = "h2c_media_decode"
MEDIA_RESIZE = "h2c_media_resize"
MEDIA_FRAMES = "h2c_media_frames"
JPEG_ENCODE = "h2c_jpeg_encode"
GIF_ENCODE = "h2c_gif_encode"
AUDIO_FEATURES = "h2c_audio_features"

# the sample statistics are over every channel of the first (composited) frame
DECODED = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean", DoubleType()),
        StructField("min", IntegerType()),
        StructField("max", IntegerType()),
        StructField("row_sums", ArrayType(LongType())),
    ]
)

# the sums are over every sample of every channel
AUDIO = StructType(
    [
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("peak_abs", LongType()),
        StructField("sum_abs", LongType()),
        StructField("sum_sq", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("duration_ms", DoubleType()),
    ]
)

_FUNCTIONS = {
    MURMUR3_TOKEN: ("hdfs2cass_spark.jvm.Tokens$Murmur3", LongType()),
    MD5_TOKEN_BUCKET: (
        "hdfs2cass_spark.jvm.Tokens$Md5Bucket",
        StructType([StructField("token", StringType()), StructField("bucket", IntegerType())]),
    ),
    DOUBLE_BYTES: ("hdfs2cass_spark.jvm.Tokens$DoubleBytes", BinaryType()),
    FLOAT_BYTES: ("hdfs2cass_spark.jvm.Tokens$FloatBytes", BinaryType()),
    DECIMAL_BYTES: ("hdfs2cass_spark.jvm.Tokens$DecimalBytes", BinaryType()),
    MEDIA_DECODE: ("hdfs2cass_spark.jvm.Media$Decode", DECODED),
    MEDIA_RESIZE: ("hdfs2cass_spark.jvm.Media$Resize", BinaryType()),
    MEDIA_FRAMES: ("hdfs2cass_spark.jvm.Media$Frames", ArrayType(BinaryType())),
    JPEG_ENCODE: ("hdfs2cass_spark.jvm.Media$JpegEncode", BinaryType()),
    GIF_ENCODE: ("hdfs2cass_spark.jvm.Media$GifEncode", BinaryType()),
    AUDIO_FEATURES: ("hdfs2cass_spark.jvm.Media$AudioFeatures", AUDIO),
}


def _javac() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "javac")):
        return os.path.join(home, "bin", "javac")
    found = shutil.which("javac")
    if found is None:
        raise RuntimeError(
            "hdfs2cass_spark needs a JDK to build its Cassandra token and media functions: "
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


def _sources() -> dict[str, bytes]:
    """Every ``*.java`` source of the package, by file name, in name order."""
    files = sorted(resources.files(__name__).iterdir(), key=lambda f: f.name)
    return {f.name: f.read_bytes() for f in files if f.name.endswith(".java")}


def _jar_name(sources: dict[str, bytes]) -> str:
    sha = hashlib.sha256()
    for file_name, source in sources.items():
        sha.update(f"{file_name}\0{len(source)}\0".encode())
        sha.update(source)
    return f"jvm-{sha.hexdigest()[:16]}.jar"


def jar_path() -> str:
    """The jar of the package's Java functions, compiled on the first call for
    these sources."""
    sources = _sources()
    name = _jar_name(sources)
    cache = os.path.join(tempfile.gettempdir(), f"hdfs2cass_spark-{os.getuid()}")
    if _private(cache, stat.S_ISDIR) and _private(os.path.join(cache, name), stat.S_ISREG):
        return os.path.join(cache, name)
    from pyspark.find_spark_home import _find_spark_home

    javac = _javac()
    with tempfile.TemporaryDirectory(prefix="hdfs2cass_spark-javac-") as work:
        srcs = []
        for file_name, source in sources.items():
            srcs.append(os.path.join(work, file_name))
            with open(srcs[-1], "wb") as f:
                f.write(source)
        classes = os.path.join(work, "classes")
        # the jars pyspark launches its JVM with, so the build matches the runtime
        cp = os.path.join(_find_spark_home(), "jars", "*")
        done = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", cp, "-d", classes, *srcs],
            capture_output=True,
            text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed to build {', '.join(sources)}:\n{done.stderr}")
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
    """Make the token, serializer and media functions callable by name in
    ``spark``. The jar lands in the SparkContext, so a second ``ADD JAR`` of it
    (a new session of the same application, or racing callers) is a no-op that
    Spark logs as a warning."""
    if spark.catalog.functionExists(MURMUR3_TOKEN):
        return
    spark.sql(f"ADD JAR '{jar_path()}'")
    for name, (cls, dtype) in _FUNCTIONS.items():
        spark.udf.registerJavaFunction(name, cls, dtype)
