"""Keyed upsert merge: live corpus maintenance.

The batch side of corpus maintenance is snapshot-diff + incremental
refresh (:mod:`..operators.snapshots`, :mod:`..plans.refresh`); this is
the merge a stream of document UPSERTS (new and re-crawled pages) needs
to keep a queryable current-state table:

1. **Last-write-wins within the batch**: several updates for one key
   collapse to the row with the max ``order_col`` (deterministic
   tie-break on a monotonic version/timestamp the caller provides).
2. **Merge**: existing rows whose key the batch names are dropped (anti
   join against the batch's keys) and the upserts are unioned in.
3. **Replay safety**: the merge is idempotent — re-running a batch
   anti-joins its own previously-written rows out and re-adds identical
   ones, so at-least-once ``foreachBatch`` replay yields exactly-once
   table state.

Deletes are out of scope: model them as upserts carrying a tombstone
flag and filter downstream (the corpus-pipeline consumers already
filter on quality flags the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["last_write_wins", "upsert_merge"]


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
    """Last-write-wins the updates, keep every existing row whose key is
    untouched (anti join), union the upserts. One key-partitioned anti
    join + one window — the relation a stream would materialize per
    micro-batch, checked against the DuckDB oracle."""
    ups = last_write_wins(updates, key, order_col)
    kept = existing.join(ups.select(key), on=key, how="left_anti")
    return kept.unionByName(ups)
