"""hdfs2cass_spark — a PySpark-native engine with the capabilities of spotify/hdfs2cass.

The reference (/root/reference, spotify/hdfs2cass) is a Crunch/MapReduce bulk-load
pipeline: scan Avro -> reshape to Cassandra insert form -> token-ring-aware
shuffle+sort -> SSTable sink (SURVEY.md §2). This package re-expresses that dataflow
Spark-first (DataFrame/Catalyst) and extends it with a full analytics surface and
LLM-data-pipeline operators (dedup, similarity search, text analysis, multimodal),
all designed for 100 TB scale.

Layout:
    session       SparkSession factory (AQE on, UTC, Arrow on)
    sources       table loaders for the fixture schema + legacy text format
    functions     cassandra token specs, serialization matrix, text/vector exprs
    jvm           the cassandra tokens and the image codecs as Java UDFs, compiled and
                  registered on first use
    operators     reshape (P1/P2/P6), legacy parse (P3-P5), token partitioning
                  (K1, G1-G3), dedup, similarity, multimodal
    sinks         simulated bulk sink (sorted parquet by token bucket), connector stub
    plans         the declared-query catalog (queries + DuckDB oracle SQL)
    streaming     Structured Streaming ingest over the events table
"""

__version__ = "0.1.0"
