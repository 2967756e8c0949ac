"""Distribution drift per time window: an ingest mix vs a baseline.

Scores each window's categorical mix (event type, source, language)
against a STATIC baseline distribution with the same smoothed PSI/KL
terms batch `distribution_drift` uses. An alert pipeline consumes rows
where ``sum(psi_term)`` per window crosses the 0.1/0.25 thresholds.

PSI needs every bucket's share of a COMPLETED window (a second
aggregation over the windowed counts), and Structured Streaming forbids
chained stateful aggregations in append mode — so a stream would run
:func:`score_windows_psi` inside ``foreachBatch`` on each micro-batch's
closed windows, where the emitted rows are a plain DataFrame. The
catalog query ``windowed_mix_drift`` runs it over hour buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["score_windows_psi"]


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
