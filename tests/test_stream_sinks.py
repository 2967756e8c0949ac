"""Streaming sinks: exactly-once replay semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from fireball_data_processing_spark.sources.tables import load_table
from fireball_data_processing_spark.streaming.sinks_stream import (
    write_epoch_partition,
)

SMOKE = "/root/testdata/sf0.001"


def test_epoch_replay_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    df = load_table(spark, SMOKE, "events").limit(100)
    write_epoch_partition(df, 0, out)
    n1 = spark.read.parquet(out).count()
    # replaying the SAME epoch must replace, not append
    write_epoch_partition(df, 0, out)
    assert spark.read.parquet(out).count() == n1
    # a new epoch appends its own partition and leaves epoch 0 alone
    write_epoch_partition(df, 1, out)
    got = spark.read.parquet(out)
    assert got.count() == 2 * n1
    assert got.select("batch_id").distinct().count() == 2


def test_epoch_replay_of_its_own_output(spark, tmp_path):
    """A replayed epoch whose frame reads the sink's own partition keeps
    its rows: the write goes to staging before the old files go."""
    out = str(tmp_path / "out")
    write_epoch_partition(load_table(spark, SMOKE, "events").limit(100), 0, out)
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    own = spark.read.parquet(out).filter(F.col("batch_id") == 0).drop("batch_id")
    write_epoch_partition(own, 0, out)
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == before
