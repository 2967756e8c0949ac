"""Per-window PSI drift scoring (streaming/drift_stream.py)."""

from __future__ import annotations

import pytest

from fireball_data_processing_spark.streaming.drift_stream import (
    score_windows_psi,
)

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow


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
