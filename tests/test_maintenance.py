"""Partitioned-layout maintenance: partitioned writes prune at the scan,
dynamic overwrite replaces only its own partitions, compaction collapses
fragmented partitions to one file without touching healthy ones."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from fireball_data_processing_spark.sources.maintenance import (
    compact_partitions,
    overwrite_partitions,
    partition_stats,
    write_partitioned,
)


def _events(spark, day_values, rows_per_day=10, tag="a"):
    rows = [
        (d * 1000 + i, d, f"{tag}{i}")
        for d in day_values
        for i in range(rows_per_day)
    ]
    return spark.createDataFrame(rows, "event_id bigint, day int, payload string")


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_events(spark, [1, 2, 3]), path, ["day"])
    df = spark.read.parquet(path).filter(F.col("day") == 2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    assert "PartitionFilters" in s and "day" in s
    assert df.count() == 10
    # hive layout on disk
    assert os.path.isdir(os.path.join(path, "day=2"))


def test_dynamic_overwrite_replaces_only_own_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_events(spark, [1, 2], tag="old"), path, ["day"])
    # reprocess day 2 only, with different content and row count
    overwrite_partitions(_events(spark, [2], rows_per_day=4, tag="new"), path, ["day"])
    got = spark.read.parquet(path)
    assert got.filter(F.col("day") == 1).count() == 10  # untouched
    d2 = got.filter(F.col("day") == 2)
    assert d2.count() == 4
    assert all(r["payload"].startswith("new") for r in d2.collect())
    # the mode flip did not leak into the session
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )


def test_compaction_collapses_fragmented_partitions_only(spark, tmp_path):
    path = str(tmp_path / "t")
    # day 1: healthy single file; day 2: fragmented into ~8 files
    write_partitioned(_events(spark, [1]).coalesce(1), path, ["day"])
    frag = _events(spark, [2], rows_per_day=64).repartition(8)
    frag.write.mode("append").partitionBy("day").parquet(path)

    before = {
        r["day"]: (r["n_files"], r["n_rows"])
        for r in partition_stats(spark, path, ["day"]).collect()
    }
    assert before[1][0] == 1 and before[2][0] > 1

    report = compact_partitions(spark, path, ["day"])
    assert [r["day"] for r in report] == [2]
    assert report[0]["files_before"] == before[2][0]
    assert report[0]["files_after"] == 1

    after = {
        r["day"]: (r["n_files"], r["n_rows"])
        for r in partition_stats(spark, path, ["day"]).collect()
    }
    assert after[1] == before[1]  # healthy partition untouched
    assert after[2] == (1, before[2][1])  # same rows, one file


def test_compaction_noop_when_healthy(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_events(spark, [1, 2]).coalesce(1), path, ["day"])
    assert compact_partitions(spark, path, ["day"]) == []


def test_compaction_handles_null_partition_value(spark, tmp_path):
    """A null partition key (__HIVE_DEFAULT_PARTITION__) must be selected
    with null-safe equality — plain == would silently skip it while the
    report claims it was compacted."""
    path = str(tmp_path / "t")
    rows = [(i, None, f"x{i}") for i in range(40)] + [(100, 1, "keep")]
    frag = spark.createDataFrame(
        rows, "event_id bigint, day int, payload string"
    ).repartition(6)
    write_partitioned(frag, path, ["day"])
    before = {
        r["day"]: r["n_files"]
        for r in partition_stats(spark, path, ["day"]).collect()
    }
    assert before[None] > 1

    report = compact_partitions(spark, path, ["day"])
    assert [r["day"] for r in report] == [None]
    assert report[0]["files_after"] == 1
    after = {
        r["day"]: (r["n_files"], r["n_rows"])
        for r in partition_stats(spark, path, ["day"]).collect()
    }
    assert after[None] == (1, 40)
    assert after[1] == (1, 1)  # non-null partition untouched
