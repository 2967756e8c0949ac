"""Streaming group-sequential SPRT monitor (streaming/seqtest_stream.py):
row-per-batch parity with the batch SPRT (through a stream, and over a
hand-written delta table), replay idempotence, and the documented
batch-granularity semantics."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.seqtest import sprt_decisions
from fireball_data_processing_spark.streaming.seqtest_stream import (
    sprt_monitor,
    stream_sprt_deltas,
)

# The stream runs are marked slow (excluded from the default suite; run
# with -m slow); the stream-free parity case runs by default.

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


@pytest.mark.slow
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


@pytest.mark.slow
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


@pytest.mark.slow
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


@pytest.mark.slow
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


def test_monitor_over_hand_written_deltas_equals_batch_sprt(spark, tmp_path):
    # no stream: write the sink's batch_id=N partitions by hand, one row
    # per epoch, so the group-sequential monitor must walk exactly the
    # row-level SPRT of the same rows (wide hypotheses keep the walks
    # short: +-ln 4 per observation against boundaries of +-2.944)
    from fireball_data_processing_spark.streaming.sinks_stream import (
        write_epoch_partition,
    )

    args = dict(p0=0.2, p1=0.8)
    out = str(tmp_path / "out")
    xs = {0: [1, 0, 1, 1, 1, 0], 1: [0, 0, 0, 1], 2: [1, 0, 1, 0, 1, 0]}
    rows = [(g, i, x) for g, seq in xs.items() for i, x in enumerate(seq)]
    for i in range(max(len(seq) for seq in xs.values())):
        epoch = [(g, 1, seq[i]) for g, seq in xs.items() if i < len(seq)]
        write_epoch_partition(
            spark.createDataFrame(epoch, "group bigint, dk bigint, dn1 bigint"),
            i,
            out,
        )

    got = sprt_monitor(spark, out, **args).collect()
    want = sprt_decisions(
        spark.createDataFrame(rows, SCHEMA),
        group_col="g",
        order_col="o",
        success=F.col("x") == 1,
        **args,
    ).collect()
    cols = want[0].__fields__
    assert [tuple(r[c] for c in cols) for r in got] == [tuple(r) for r in want]
    assert [(r["decision"], r["n_at_decision"]) for r in want] == [
        ("accept_h1", 5), ("accept_h0", 3), ("continue", None)
    ]
    assert [r["epoch_at_decision"] for r in got] == [4, 2, None]
