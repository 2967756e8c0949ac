"""Partitioned-table layout maintenance: partitioned writes, dynamic
partition overwrite, small-file compaction, and layout statistics.

The operational side of a 100 TB parquet lake that the query layer
assumes but something has to maintain:

- **Partitioned writes** (:func:`write_partitioned`): ``partitionBy``
  date/category columns so every time- or category-scoped query prunes
  partitions at the scan (PartitionFilters — the same mechanism
  ``ivf_query`` leans on).
- **Dynamic partition overwrite** (:func:`overwrite_partitions`): an
  incremental batch (one day, one source) replaces ONLY the partitions
  it contains — the idempotent-reprocessing primitive. A static
  overwrite would truncate the whole table; ``partitionOverwriteMode=
  dynamic`` is scoped per write, not leaked into the session.
- **Small-file compaction** (:func:`compact_partitions`,
  :func:`partition_stats`): streaming/incremental ingest leaves many
  tiny files per partition; scans then pay per-file open cost and the
  scheduler drowns in splits. Compaction rewrites each partition to
  ``ceil(bytes / target_bytes)`` files via a partition-local
  ``repartition`` on the partition keys — no global shuffle, each
  output partition is written by tasks that read only it. Stats-first:
  :func:`partition_stats` (one aggregation over ``input_file_name``)
  says which partitions need work, and only those are rewritten.

Everything here is expressed on public DataFrame/SQL surface — no
table-format dependency (Delta/Iceberg would subsume this; on plain
parquet these ARE the maintenance primitives).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols`` (hive
    layout: ``col=value/`` directories -> partition pruning at scan)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Replace exactly the partitions present in ``df`` (dynamic
    partition overwrite), leaving all other partitions untouched —
    idempotent reprocessing of one day/source without truncating the
    table. The mode is a WRITER option, not a session conf flip, so
    concurrent writers in the same session are unaffected."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def partition_stats(
    spark: SparkSession, path: str, partition_cols: Sequence[str]
) -> DataFrame:
    """Files/rows per partition: ``(partition_cols..., n_files, n_rows)``
    from one distributed aggregation over ``input_file_name()`` — no
    driver-side directory walking, so it scales to millions of files."""
    df = spark.read.parquet(path)
    return (
        df.withColumn("__file", F.input_file_name())
        .groupBy(*partition_cols)
        .agg(
            F.countDistinct("__file").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
) -> list[dict]:
    """Rewrite fragmented partitions down to ONE file each; partitions
    with at most 2 files are left byte-untouched
    (their readers see no churn, and the job does no write
    amplification).

    Returns a report: one dict per compacted partition with its file
    count before/after. The rewrite routes through
    :func:`overwrite_partitions`, so concurrent readers of OTHER
    partitions are never disturbed; only the fragmented partitions are
    re-read, hash-repartitioned on the partition keys (each partition's
    rows converge on one task -> one output file; untouched partitions
    are never shuffled), and dynamically overwritten. Partitions whose
    single compacted file would exceed executor-comfortable size should
    instead be split by adding a finer partition column — one file per
    partition is the right end-state only when partitions are sized by
    the partitioning scheme, which is the premise of the layout.
    """
    stats = partition_stats(spark, path, partition_cols).collect()
    todo = [r for r in stats if r["n_files"] > 2]
    if not todo:
        return []
    df = spark.read.parquet(path)
    cond = None
    for r in todo:
        clause = F.lit(True)
        for c in partition_cols:
            # eqNullSafe: a null partition value (__HIVE_DEFAULT_PARTITION__)
            # must still select its rows — plain == yields NULL and the
            # partition would be silently skipped while the report claims
            # it was compacted
            clause = clause & F.col(c).eqNullSafe(F.lit(r[c]))
        cond = clause if cond is None else (cond | clause)
    fragment = df.filter(cond)
    compacted = fragment.repartition(
        max(len(todo), 1), *[F.col(c) for c in partition_cols]
    )
    overwrite_partitions(compacted, path, partition_cols)
    after = {
        tuple(r[c] for c in partition_cols): r["n_files"]
        for r in partition_stats(spark, path, partition_cols).collect()
    }
    return [
        {
            **{c: r[c] for c in partition_cols},
            "files_before": r["n_files"],
            "files_after": after[tuple(r[c] for c in partition_cols)],
        }
        for r in todo
    ]
