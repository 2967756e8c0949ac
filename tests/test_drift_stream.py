"""Streaming drift monitor: stream/batch parity of the per-window PSI
scoring and end-to-end availableNow run with the idempotent sink."""

from __future__ import annotations

import pytest

import os
import shutil

from pyspark.sql import functions as F

from fireball_data_processing_spark.schema import SYNTHETIC_STREAM
from fireball_data_processing_spark.sources.tables import (
    load_table,
    raw_table_schema,
)
from fireball_data_processing_spark.streaming.drift_stream import (
    drift_monitor_stream,
    score_windows_psi,
)

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow

SMOKE = "/root/testdata/sf0.001"
S = SYNTHETIC_STREAM


def _batch_window_counts(spark):
    ev = load_table(spark, SMOKE, "events")
    ts = F.timestamp_micros(F.expr(f"{S.ts_col} div 1000"))
    return (
        ev.withColumn("event_ts", ts)
        .groupBy(F.window("event_ts", "1 hour"), F.col(S.type_col).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "bucket", "n")
    )


def test_score_windows_psi_zero_when_window_equals_baseline(spark):
    base = spark.createDataFrame([("a", 30), ("b", 10)], ["bucket", "n"])
    wc = spark.createDataFrame(
        [("2026-01-01T00:00:00", "a", 30), ("2026-01-01T00:00:00", "b", 10)],
        ["window_start", "bucket", "n"],
    )
    rows = score_windows_psi(wc, base).collect()
    assert all(r.psi_term == 0.0 and r.kl_term == 0.0 for r in rows)


def test_score_windows_psi_missing_bucket_contributes(spark):
    base = spark.createDataFrame([("a", 20), ("b", 20)], ["bucket", "n"])
    wc = spark.createDataFrame(
        [("w1", "a", 40)], ["window_start", "bucket", "n"]
    )  # bucket b vanished in this window
    rows = {r.bucket: r for r in score_windows_psi(wc, base).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["b"].n_win == 0
    assert rows["b"].psi_term > 0  # disappearance registers as drift


def test_score_windows_psi_null_bucket_is_one_category(spark):
    # mirror of the batch test: a NULL bucket is a real category and
    # must keep its counts through the (null-safe) grid joins, not be
    # zeroed by an equi-join that never matches NULL
    base = spark.createDataFrame(
        [("en", 1), (None, 3)], "bucket string, n int"
    )
    wc = spark.createDataFrame(
        [("w1", "en", 2), ("w1", None, 2)],
        "window_start string, bucket string, n int",
    )
    got = {
        r.bucket: (r.n_base, r.n_win)
        for r in score_windows_psi(wc, base).collect()
    }
    assert set(got) == {"en", None}
    assert got[None] == (3, 2)
    assert got["en"] == (1, 2)


def test_drift_monitor_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(os.path.join(SMOKE, "events.parquet"), src)
    baseline = (
        load_table(spark, SMOKE, "events")
        .groupBy(F.col(S.type_col).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = drift_monitor_stream(
        spark,
        src,
        raw_table_schema(spark, SMOKE, "events"),
        S,
        bucket_col=S.type_col,
        baseline=baseline,
        out_path=out,
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # stream scored exactly the batch-computed windows
    want = score_windows_psi(_batch_window_counts(spark), baseline)
    key = ["window_start", "bucket"]
    g = {tuple(r[k] for k in key): (r.n_win, r.psi_term) for r in got.collect()}
    w = {tuple(r[k] for k in key): (r.n_win, r.psi_term) for r in want.collect()}
    # append mode emits a window only once the watermark (max event time
    # minus 30 minutes) passes its END; windows still open when the
    # availableNow run ends are not emitted — exclude them from the
    # parity set
    import datetime as dt

    max_ts = (
        load_table(spark, SMOKE, "events")
        .select(F.timestamp_micros(F.expr(f"{S.ts_col} div 1000")).alias("t"))
        .agg(F.max("t"))
        .first()[0]
    )
    watermark = max_ts - dt.timedelta(minutes=30)
    w_closed = {
        k: v for k, v in w.items() if k[0] + dt.timedelta(hours=1) <= watermark
    }
    assert g == w_closed
    # the corpus-vs-itself mix per window still drifts per window (each
    # window's mix differs from the global), but totals are finite and
    # every window got scored
    assert len(g) > 0
