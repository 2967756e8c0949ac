"""Streaming CUSUM rate monitor — the ingest twin of the batch control
charts (``operators/drift.py cusum_alarm``/``ewma_chart``), completing
the monitoring family's streaming side next to the group-sequential
SPRT (``seqtest_stream.py``): "has the conversion rate drifted upward,
judged continuously as batches arrive?".

State design mirrors the SPRT stream: the chart consumes a TIME-GRAIN
series of (trials, successes), and those sufficient statistics are
ADDITIVE — each micro-batch appends per-day ``(day, dk, dn1)`` delta
rows via the epoch-partitioned idempotent sink (replays replace their
own partition), epochs merge by per-day addition in any order (late
data for an old day simply lands as another delta row for that day),
and the read side rebuilds the day series and runs the SAME batch
cusum_alarm — so stream and batch answers are identical by
construction once the same rows have arrived (the parity test pins
this). No state store, no watermark; late data is handled by the
additive merge rather than dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["stream_rate_deltas", "cusum_monitor"]


def stream_rate_deltas(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    ts_col: str,
    success: Column,
    out_path: str,
    checkpoint_dir: str,
):
    """Reduce each micro-batch to per-day ``(day, dk, dn1)`` rows
    (int64-nano timestamps bucketed to days) and append exactly-once
    via the epoch-partitioned sink."""
    from fireball_data_processing_spark.sources.tables import (
        normalize_event_time,
    )
    from fireball_data_processing_spark.streaming.sinks_stream import (
        drain_stream,
        write_epoch_partition,
    )

    stream = spark.readStream.schema(file_schema).parquet(source_dir)

    def _reduce_and_write(batch_df: DataFrame, epoch_id: int) -> None:
        b = normalize_event_time(batch_df, ts_col)
        deltas = (
            b.groupBy(
                F.floor(F.col(ts_col) / F.lit(86400.0 * 1e9))
                .cast("bigint")
                .alias("day")
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("dk"),
                F.sum(F.when(success, 1).otherwise(0))
                .cast("bigint")
                .alias("dn1"),
            )
        )
        write_epoch_partition(deltas, epoch_id, out_path)

    return drain_stream(stream, _reduce_and_write, checkpoint_dir)


def cusum_monitor(
    spark: SparkSession,
    delta_path: str,
    target: float,
    allowance: float,
    threshold: float,
) -> DataFrame:
    """Merge the delta table by per-day addition (order-free, so late
    and replayed epochs are both safe) and run the batch CUSUM over the
    reconstructed daily share series. Returns cusum_alarm's
    ``(time, x, cusum, alarm)``."""
    from fireball_data_processing_spark.operators.drift import cusum_alarm

    daily = (
        spark.read.parquet(delta_path)
        .groupBy("day")
        .agg(
            F.sum("dk").cast("double").alias("__k"),
            F.sum("dn1").cast("double").alias("__n1"),
        )
        .select(
            "day",
            F.round(F.col("__n1") / F.col("__k"), 8).alias("share"),
        )
    )
    return cusum_alarm(
        daily,
        time_col="day",
        value_col="share",
        target=target,
        allowance=allowance,
        threshold=threshold,
    )
