"""Streaming distribution-drift monitor: live ingest mix vs a baseline.

Composes the windowed streaming layer with :mod:`..operators.drift`:
per tumbling event-time window, count the categorical mix (event type,
source, language) of the arriving stream, and score each closed window
against a STATIC baseline distribution with the same smoothed PSI/KL
terms batch `distribution_drift` uses. An alert pipeline consumes rows
where ``sum(psi_term)`` per window crosses the 0.1/0.25 thresholds.

Why foreachBatch: PSI needs every bucket's share of a COMPLETED window
(a second aggregation over the windowed counts), and Structured
Streaming forbids chained stateful aggregations in append mode. The
windowed count IS the streaming-stateful part; the per-window PSI math
is a tiny batch computation on each micro-batch's emitted (closed)
windows — so it runs inside ``foreachBatch``, where the emitted rows
are a plain DataFrame. Batch parity is exact because the same
`_psi_terms` expression serves both paths.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from fireball_data_processing_spark.schema import StreamSchema
from fireball_data_processing_spark.streaming.windowed import event_time_stream

__all__ = ["windowed_mix_stream", "score_windows_psi", "drift_monitor_stream"]


def windowed_mix_stream(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    s: StreamSchema,
    bucket_col: str,
) -> DataFrame:
    """(window_start, bucket, n) per tumbling 1-hour event-time window — the
    streaming-stateful half of the monitor; append mode emits each
    window once, when the 30-minute watermark closes it."""
    stream = event_time_stream(spark, source_dir, file_schema, s)
    return (
        stream.withWatermark("event_ts", "30 minutes")
        .groupBy(F.window("event_ts", "1 hour"), F.col(bucket_col).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "bucket", "n")
    )


def score_windows_psi(
    window_counts: DataFrame, baseline: DataFrame
) -> DataFrame:
    """Score (window_start, bucket, n) rows against a (bucket, n)
    baseline: per-window smoothed shares and PSI/KL terms, same math as
    the batch :func:`..operators.drift.distribution_drift` with the
    baseline as "before" and each window as "after". Buckets absent
    from a window (or from the baseline) still contribute via the
    full-join + add-one smoothing. Works on any batch frame — including
    a micro-batch inside ``foreachBatch``."""
    buckets = baseline.select("bucket").unionByName(
        window_counts.select("bucket")
    ).distinct()
    wins = window_counts.select("window_start").distinct()
    grid = wins.crossJoin(buckets)
    # null-safe join keys, mirroring batch distribution_drift: a NULL
    # bucket (missing source/lang) is a real category — an equi-join on
    # "bucket" would never match it, silently zeroing its n_base/n_win
    # and undercounting the window totals
    base = F.broadcast(
        baseline.select(F.col("bucket").alias("b_bucket"), F.col("n").alias("n_base"))
    )
    wc = window_counts.select(
        F.col("window_start").alias("w_start"),
        F.col("bucket").alias("w_bucket"),
        F.col("n").alias("n_win"),
    )
    full = (
        grid.join(base, grid["bucket"].eqNullSafe(base["b_bucket"]), "left")
        .join(
            wc,
            grid["bucket"].eqNullSafe(wc["w_bucket"])
            & (grid["window_start"] == wc["w_start"]),
            "left",
        )
        .select(
            grid["window_start"],
            grid["bucket"],
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_win", F.lit(0)).alias("n_win"),
        )
    )
    w_win = Window.partitionBy("window_start")
    k = F.count(F.lit(1)).over(w_win)
    p = (F.col("n_base") + 1) / (F.sum("n_base").over(w_win) + k)
    q = (F.col("n_win") + 1) / (F.sum("n_win").over(w_win) + k)
    return full.select(
        "window_start",
        "bucket",
        "n_base",
        "n_win",
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        F.round(p * F.log(p / q), 6).alias("kl_term"),
    )


def drift_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    s: StreamSchema,
    bucket_col: str,
    baseline: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """End-to-end monitor: windowed mix stream -> per-closed-window PSI
    vs ``baseline`` -> epoch-idempotent parquet (see
    :mod:`.sinks_stream`). ``baseline`` must be a small static frame
    (it is collected into every micro-batch's plan via broadcast)."""
    from fireball_data_processing_spark.streaming.sinks_stream import (
        drain_stream,
        write_epoch_partition,
    )

    counts = windowed_mix_stream(spark, source_dir, file_schema, s, bucket_col)

    def _score_and_write(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch_partition(
            score_windows_psi(batch_df, baseline), epoch_id, out_path
        )

    return drain_stream(counts, _score_and_write, checkpoint_dir)
