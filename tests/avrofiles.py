"""Avro fixture files for the reader tests: written by Spark's own Avro
writer (``write_avro``), inspected with the Avro Java library."""

from __future__ import annotations

import glob
import json
import os
import shutil

from hdfs2cass_spark.sources.readers import write_avro


def avro_file(df, path, schema: dict, **options: str) -> str:
    """Write ``df`` as ONE container file at ``path`` with the exact writer
    ``schema``: one partition, its part file moved out of Spark's output
    directory."""
    parts = f"{path}.parts"
    write_avro(df.coalesce(1), parts, avroSchema=json.dumps(schema), **options)
    (part,) = glob.glob(f"{parts}/part-*.avro")
    os.replace(part, path)
    shutil.rmtree(parts)
    return str(path)


def stored_records(spark, path) -> list[dict]:
    """The records of one container file as stored: a plain
    ``GenericDatumReader`` applies no logical-type conversion, so temporal
    fields come back as the raw ints and longs in the file, independent of
    Spark's reader."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(str(path)), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        out = []
        while reader.hasNext():
            out.append(json.loads(reader.next().toString()))
        return out
    finally:
        reader.close()
