"""Streaming group-sequential SPRT monitor (streaming/seqtest_stream.py):
row-per-batch parity with the batch SPRT, replay idempotence, and the
documented batch-granularity semantics."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.seqtest import sprt_decisions
from fireball_data_processing_spark.streaming.seqtest_stream import (
    sprt_monitor,
    stream_sprt_deltas,
)

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow

SCHEMA = "g bigint, o bigint, x int"
ARGS = dict(p0=0.15, p1=0.25)


def _run_once(spark, src, out, ckpt):
    q = stream_sprt_deltas(
        spark,
        src,
        SCHEMA,
        group_col="g",
        success=F.col("x") == 1,
        out_path=out,
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)


def test_row_per_batch_parity_with_batch_sprt(spark, tmp_path):
    # one row added per availableNow run -> one epoch per row -> the
    # group-sequential monitor degenerates to the row-exact SPRT
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rows = [(0, i, 1) for i in range(7)]  # all successes: h1 at k=6
    for i, row in enumerate(rows):
        spark.createDataFrame([row], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _run_once(spark, src, out, ckpt)

    got = sprt_monitor(spark, out, **ARGS).first()
    want = sprt_decisions(
        spark.createDataFrame(rows, SCHEMA),
        group_col="g",
        order_col="o",
        success=F.col("x") == 1,
        **ARGS,
    ).first()
    assert got["decision"] == want["decision"] == "accept_h1"
    assert got["n_at_decision"] == want["n_at_decision"] == 6
    assert got["n_total"] == want["n_total"] == 7
    assert got["llr_final"] == want["llr_final"]


def test_replay_is_idempotent(spark, tmp_path):
    from fireball_data_processing_spark.streaming.sinks_stream import (
        write_epoch_partition,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame(
        [(0, i, 1) for i in range(10)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    _run_once(spark, src, out, ckpt)
    before = [tuple(r) for r in sprt_monitor(spark, out, **ARGS).collect()]

    # simulate a replayed epoch 0: rewrite the same per-group deltas
    deltas = (
        spark.read.parquet(out)
        .filter(F.col("batch_id") == 0)
        .drop("batch_id")
    )
    write_epoch_partition(deltas, 0, out)
    after = [tuple(r) for r in sprt_monitor(spark, out, **ARGS).collect()]
    assert before == after


def test_batch_granularity_semantics_documented(spark, tmp_path):
    # 6 successes then 60 failures in ONE batch: row-level SPRT calls
    # accept_h1 at k=6; the batch-boundary monitor only sees the
    # batch-end cumulative (llr ~ -4.4) and calls accept_h0 — the
    # documented group-sequential granularity
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rows = [(0, i, 1 if i < 6 else 0) for i in range(66)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_once(spark, src, out, ckpt)

    stream_decision = sprt_monitor(spark, out, **ARGS).first()
    batch_decision = sprt_decisions(
        spark.createDataFrame(rows, SCHEMA),
        group_col="g",
        order_col="o",
        success=F.col("x") == 1,
        **ARGS,
    ).first()
    assert batch_decision["decision"] == "accept_h1"
    assert stream_decision["decision"] == "accept_h0"
    assert stream_decision["n_at_decision"] == 66


def test_groups_decide_independently(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rows = [(0, i, 1) for i in range(10)] + [(1, i, 0) for i in range(30)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_once(spark, src, out, ckpt)
    got = {
        r["group"]: r["decision"]
        for r in sprt_monitor(spark, out, **ARGS).collect()
    }
    assert got == {0: "accept_h1", 1: "accept_h0"}
