"""Keyed upsert merge: last-write-wins semantics and replay idempotence."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fireball_data_processing_spark.streaming.upsert_stream import (
    last_write_wins,
    upsert_merge,
)

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow

SCHEMA = "doc_id bigint, text string, version bigint"


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
    # replay the batch against the existing table
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
