"""Streaming keyed upsert into bucketed parquet: live corpus maintenance.

The batch side of corpus maintenance is snapshot-diff + incremental
refresh (:mod:`..operators.snapshots`, :mod:`..plans.refresh`); the
streaming side is this sink: a stream of document UPSERTS (new and
re-crawled pages) maintained as a queryable current-state table on
plain parquet — no table-format dependency, same constraint as the
rest of the streaming surface.

Mechanics, per micro-batch (``foreachBatch``):

1. **Last-write-wins within the batch**: several updates for one key
   collapse to the row with the max ``order_col`` (deterministic
   tie-break on a monotonic version/timestamp the caller provides).
2. **Bucket routing**: every key maps to a ``bucket=K`` partition via
   the md5-derived :func:`..operators.sharding.shard_id` — uniform,
   engine-reproducible, stable forever (the layout never needs
   reshuffling as the table grows).
3. **Touched-bucket merge**: ONLY the buckets named by the batch are
   read back, their surviving rows (anti join against the batch's
   keys) are unioned with the upserts, and dynamic partition overwrite
   rewrites exactly those buckets. Cost per batch is O(batch +
   touched-bucket bytes), never O(table) — at 100 TB with 64 Ki
   buckets a batch touching 1k keys rewrites ~1k buckets of ~1.5 GB
   table-bytes each at most, independent of total table size.
4. **Replay safety**: the merge is idempotent — re-running an epoch
   anti-joins its own previously-written rows out and re-adds
   identical ones, so at-least-once ``foreachBatch`` replay yields
   exactly-once table state (same upgrade the epoch-partitioned sink
   makes, by merge-idempotence instead of partition ownership).

The merged frame is ``localCheckpoint``-ed before the write because the
job reads the same path it overwrites; the materialization is bounded
by the touched buckets (point 3), not the table.

Deletes are out of scope: model them as upserts carrying a tombstone
flag and filter downstream (the corpus-pipeline consumers already
filter on quality flags the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from fireball_data_processing_spark.operators.sharding import shard_id
from fireball_data_processing_spark.streaming.sinks_stream import drain_stream

__all__ = ["last_write_wins", "upsert_merge", "upsert_parquet_sink"]

_BUCKET = "bucket"
_N_BUCKETS = 64


def last_write_wins(
    updates: DataFrame, key: str, order_col: str
) -> DataFrame:
    """Collapse multiple updates per key to the latest (max ``order_col``).

    Ties on the version are broken on the md5 of the whole row, so the
    choice is deterministic under repartitioning/replay even when a
    producer emits two different payloads at one version (a contract
    violation — the usual CDC rule is equal versions carry equal
    payloads, in which case the tie-break never matters)."""
    tie = F.md5(F.to_json(F.struct(*updates.columns)))
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc(), tie)
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_merge(
    existing: DataFrame, updates: DataFrame, key: str, order_col: str
) -> DataFrame:
    """Batch twin of the sink's merge step: last-write-wins the updates,
    keep every existing row whose key is untouched (anti join), union
    the upserts. One key-partitioned anti join + one window — the exact
    relation the streaming sink materializes per micro-batch, exposed
    for batch backfills and for the DuckDB oracle."""
    ups = last_write_wins(updates, key, order_col)
    kept = existing.join(ups.select(key), on=key, how="left_anti")
    return kept.unionByName(ups)


def upsert_parquet_sink(
    stream: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain a ``doc_id``-keyed current-state parquet table from an
    upsert stream versioned by ``version``, in ``_N_BUCKETS`` buckets.
    See the module docstring for the per-batch mechanics."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        _ = epoch_id  # replay safety comes from merge idempotence
        spark = batch_df.sparkSession
        ups = last_write_wins(batch_df, "doc_id", "version").withColumn(
            _BUCKET, shard_id(F.col("doc_id"), _N_BUCKETS, "upsert")
        )
        ups = ups.persist()
        try:
            touched = [
                r[_BUCKET]
                for r in ups.select(_BUCKET).distinct().collect()
            ]
            if not touched:
                return
            try:
                existing = spark.read.parquet(path).filter(
                    F.col(_BUCKET).isin(touched)
                )
                kept = existing.join(
                    ups.select("doc_id"), on="doc_id", how="left_anti"
                )
                merged = kept.unionByName(ups)
            except AnalysisException:
                merged = ups  # first batch: nothing to merge yet
            # materialize before overwriting the path being read; volume
            # is bounded by the touched buckets, not the table
            (
                merged.localCheckpoint(eager=True)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(_BUCKET)
                .parquet(path)
            )
        finally:
            ups.unpersist()

    return drain_stream(stream, _apply, checkpoint_dir)
