"""Event-time windowed streaming aggregation with watermarks.

The Kinesis-shaped deployment of the heuristics/corpus-stats layer: counts
and sums per (instance, tumbling event-time window), with a watermark
bounding how long state waits for late events. In append mode a window is
emitted exactly once — when the watermark passes its end — which is what a
downstream parquet/warehouse sink wants.

Batch twin: the ``tumbling_hour_windows`` catalog query (same grouping
expressed on int64 nanos); the streaming form trades exact reproducibility
of bucket arithmetic for watermark semantics on a real TimestampType.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fireball_data_processing_spark.schema import StreamSchema
from fireball_data_processing_spark.sources.tables import normalize_event_time


def event_time_stream(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    s: StreamSchema,
) -> DataFrame:
    """The parquet file stream under ``source_dir`` plus its event time as
    a TimestampType ``event_ts`` column, the clock every watermark here
    runs on. ``s.ts_unit == 'nanos_long'`` columns are converted to
    micros; other encodings pass through ``timestamp_seconds`` / native
    timestamps."""
    stream = normalize_event_time(
        spark.readStream.schema(file_schema).parquet(source_dir),
        s.ts_col,
    )
    if s.ts_unit == "nanos_long":
        ts = F.timestamp_micros(F.expr(f"{s.ts_col} div 1000"))
    elif s.ts_unit == "double_seconds":
        ts = F.timestamp_seconds(F.col(s.ts_col))
    else:
        ts = F.col(s.ts_col)
    return stream.withColumn("event_ts", ts)


def windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    s: StreamSchema,
) -> DataFrame:
    """Per (instance, tumbling 1-hour window) counts/sums over a file
    stream, emitted once the 30-minute watermark closes the window
    (event time as in :func:`event_time_stream`).
    """
    stream = event_time_stream(spark, source_dir, file_schema, s)
    agg_value = (
        F.round(F.sum(s.measure_col), 6).alias("window_value")
        if s.measure_col
        else F.lit(None).cast("double").alias("window_value")
    )
    return (
        stream.withWatermark("event_ts", "30 minutes")
        .groupBy(F.window("event_ts", "1 hour"), F.col(s.instance_col))
        .agg(F.count(F.lit(1)).alias("n_events"), agg_value)
        .select(
            F.col("window.start").alias("window_start"),
            F.col(s.instance_col),
            "n_events",
            "window_value",
        )
    )
