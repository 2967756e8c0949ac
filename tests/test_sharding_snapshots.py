"""Unit tests for the training-shard layout (operators/sharding.py) and
the CDC snapshot diff (operators/snapshots.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.sharding import (
    shard_key,
    shuffle_shards,
)
from fireball_data_processing_spark.operators.snapshots import (
    fingerprint,
    snapshot_diff,
)


def test_shard_assignment_deterministic_and_in_range(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "k")
    a = shuffle_shards(df, F.col("k"), n_shards=8, salt="s")
    b = shuffle_shards(df.repartition(7), F.col("k"), n_shards=8, salt="s")
    pa = {r.k: (r.shard, r.shard_order) for r in a.collect()}
    pb = {r.k: (r.shard, r.shard_order) for r in b.collect()}
    # stable under repartitioning
    assert pa == pb
    shards = {s for s, _ in pa.values()}
    assert shards == set(range(8))
    # roughly uniform: no shard holds more than 2x its fair share
    from collections import Counter

    counts = Counter(s for s, _ in pa.values())
    assert max(counts.values()) < 2 * (500 / 8)


def test_shard_order_independent_of_shard_id(spark):
    # different salts permute the order but keep contents identical
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    s1 = shuffle_shards(df, F.col("k"), n_shards=4, salt="a")
    s2 = shuffle_shards(df, F.col("k"), n_shards=4, salt="b")
    o1 = [r.k for r in s1.orderBy("shard_order").collect()]
    o2 = [r.k for r in s2.orderBy("shard_order").collect()]
    assert sorted(o1) == sorted(o2)
    assert o1 != o2  # salt really changes the permutation


def shard_key_py(k, salt: str) -> str:
    import hashlib

    return hashlib.md5((salt + str(k)).encode()).hexdigest()


def test_shard_key_matches_python_md5(spark):
    df = spark.range(0, 20).withColumnRenamed("id", "k")
    got = {
        r.k: r.sk
        for r in df.select("k", shard_key(F.col("k"), "z").alias("sk")).collect()
    }
    for k, sk in got.items():
        assert sk == shard_key_py(k, "z")


def test_fingerprint_is_ambiguity_free(spark):
    rows = [
        ("ab", "c"),
        ("a", "bc"),  # concat-ambiguous with the first
        (None, "c"),
        ("", "c"),  # null vs empty must differ
    ]
    df = spark.createDataFrame(rows, ["x", "y"])
    fps = [
        r.fp
        for r in df.select(
            fingerprint([F.col("x"), F.col("y")]).alias("fp")
        ).collect()
    ]
    assert len(set(fps)) == 4


def test_snapshot_diff_statuses(spark):
    def with_fp(df):
        return df.withColumn("fp", fingerprint([F.col("v")]))

    old = with_fp(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
        )
    )
    new = with_fp(
        spark.createDataFrame(
            [(2, "b"), (3, "C"), (4, "d")], ["k", "v"]
        )
    )
    got = {
        r.k: r.status for r in snapshot_diff(old, new, "k").collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
