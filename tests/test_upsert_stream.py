"""Streaming keyed upsert sink: merge semantics, replay idempotence,
touched-bucket isolation."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from fireball_data_processing_spark.streaming import upsert_stream
from fireball_data_processing_spark.streaming.upsert_stream import (
    last_write_wins,
    upsert_merge,
    upsert_parquet_sink,
)

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow

SCHEMA = "doc_id bigint, text string, version bigint"


@pytest.fixture(autouse=True)
def _four_buckets(monkeypatch):
    # a 4-bucket sink keeps the per-epoch bucket rewrites small
    monkeypatch.setattr(upsert_stream, "_N_BUCKETS", 4)


def test_last_write_wins_picks_max_version(spark):
    df = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "only", 7)], SCHEMA
    )
    got = {r.doc_id: (r.text, r.version) for r in last_write_wins(df, "doc_id", "version").collect()}
    assert got == {1: ("new", 2), 2: ("only", 7)}


def test_upsert_merge_semantics(spark):
    existing = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)], SCHEMA
    )
    updates = spark.createDataFrame(
        [(2, "B1", 1), (2, "B2", 2), (4, "d", 1)], SCHEMA
    )
    got = {
        r.doc_id: r.text
        for r in upsert_merge(existing, updates, "doc_id", "version").collect()
    }
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}


def _run_sink(spark, src, out, ckpt):
    stream = spark.readStream.schema(SCHEMA).format("parquet").load(src)
    q = upsert_parquet_sink(stream, out, ckpt)
    q.awaitTermination(120)


def test_upsert_sink_end_to_end_and_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    base = spark.createDataFrame(
        [(i, f"t{i}", 1) for i in range(40)], SCHEMA
    )
    base.coalesce(1).write.mode("append").parquet(src)
    _run_sink(spark, src, out, ckpt)
    state = spark.read.parquet(out)
    assert state.count() == 40
    assert {r.text for r in state.filter("doc_id = 7").collect()} == {"t7"}

    # second wave: update half the keys, add new ones
    wave2 = spark.createDataFrame(
        [(i, f"u{i}", 2) for i in range(0, 40, 2)]
        + [(100, "fresh", 1)],
        SCHEMA,
    )
    wave2.coalesce(1).write.mode("append").parquet(src)
    _run_sink(spark, src, out, ckpt)
    state = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert len(state) == 41
    assert state[6] == "u6" and state[7] == "t7" and state[100] == "fresh"

    # restart with no new data: state unchanged (no duplicates)
    _run_sink(spark, src, out, ckpt)
    again = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert again == state


def test_upsert_replay_is_idempotent(spark, tmp_path):
    """Re-running the SAME batch against the table must be a no-op —
    the merge anti-joins its own rows out and re-adds identical ones."""
    from fireball_data_processing_spark.operators.sharding import shard_id

    out = str(tmp_path / "out")
    batch = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 1)], SCHEMA
    ).withColumn("bucket", shard_id(F.col("doc_id"), 4, "upsert"))
    batch.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(out)
    before = sorted(
        map(tuple, spark.read.parquet(out).drop("bucket").collect())
    )
    # replay via the batch twin against the existing table
    existing = spark.read.parquet(out)
    merged = upsert_merge(
        existing,
        batch,
        "doc_id",
        "version",
    )
    merged.localCheckpoint(eager=True).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(out)
    after = sorted(
        map(tuple, spark.read.parquet(out).drop("bucket").collect())
    )
    assert after == before


def test_upsert_sink_leaves_untouched_buckets_alone(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    base = spark.createDataFrame(
        [(i, f"t{i}", 1) for i in range(40)], SCHEMA
    )
    base.coalesce(1).write.mode("append").parquet(src)
    _run_sink(spark, src, out, ckpt)

    # snapshot per-bucket file listings (name + mtime)
    def listing(bucket_dir):
        full = os.path.join(out, bucket_dir)
        return sorted(
            (f, os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        )

    buckets = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
    assert len(buckets) == 4
    before = {b: listing(b) for b in buckets}

    # one single-key update: exactly one bucket's files may change
    from fireball_data_processing_spark.operators.sharding import shard_id

    target = spark.createDataFrame([(7, "u7", 2)], SCHEMA)
    tb = target.select(
        shard_id(F.col("doc_id"), 4, "upsert").alias("b")
    ).collect()[0]["b"]
    target.coalesce(1).write.mode("append").parquet(src)
    _run_sink(spark, src, out, ckpt)

    changed = [b for b in buckets if listing(b) != before[b]]
    assert changed == [f"bucket={tb}"]
    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert got[7] == "u7" and len(got) == 40
