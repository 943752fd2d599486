"""Range (interval) join: points joined to the intervals containing them.

Spark plans `p.ts >= i.start AND p.ts < i.end` as a nested-loop join (no
equi-key), which is O(points x intervals) — unusable at scale. The standard
scalable formulation is the BUCKETED interval join:

  1. pick a bucket width W;
  2. each point maps to ONE bucket: floor(ts / W);
  3. each interval explodes to EVERY bucket it overlaps;
  4. equi-join on the bucket (hash join, normal shuffle), then re-check the
     exact range predicate.

Each (point, interval) pair can only meet in the point's single bucket, so no
dedup pass is needed. Cost: one hash join on bucket keys + interval rows
amplified by ceil(span/W) — pick W near the median interval span so the
amplification stays small while buckets stay selective.

The reference has no joins at all (SURVEY.md §2.2); this is extension
surface for the training-data pipeline (e.g. events -> maintenance windows,
spans -> sessions), differentially tested against DuckDB's range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdfs2cass_spark.functions.ts import epoch_seconds


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start: str,
    end: str,
    bucket_width_sec: int = 3600,
) -> DataFrame:
    """Inner-join each point row to every interval row with
    start <= point_ts < end (half-open, the usual event-time convention).

    `point_ts`, `start`, `end` are timestamp columns. Output carries all
    columns of both inputs. Intervals where end <= start produce nothing.
    """
    if bucket_width_sec <= 0:
        raise ValueError("bucket_width_sec must be positive")
    w = F.lit(bucket_width_sec)
    pb = points.withColumn("_bucket", (epoch_seconds(point_ts) / w).cast("long"))
    ib = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (epoch_seconds(start) / w).cast("long"),
                # half-open: an interval ending exactly on a bucket boundary
                # does not reach into that bucket
                ((epoch_seconds(end) - 1) / w).cast("long"),
            )
        ),
    ).filter(F.col(end) > F.col(start))
    return (
        pb.join(ib, "_bucket")
        .filter((F.col(point_ts) >= F.col(start)) & (F.col(point_ts) < F.col(end)))
        .drop("_bucket")
    )
