"""Streaming sinks: exactly-once parquet output.

Structured Streaming's file sink is append-only and relies on its own
transaction log; production pipelines routinely need exactly-once
parquet output that survives micro-batch REPLAY (a failed batch is
re-run with the same epoch id after restart). That is a `foreachBatch`
pattern: every micro-batch is written to a ``batch_id=<epoch>``
partition (a plain overwrite of exactly that epoch's directory — the
partition value is inferred from the directory name on read) — a
replayed epoch REPLACES its own partition instead of appending a
duplicate, which upgrades the file sink's at-least-once replay to
exactly-once output without any table-format dependency. Readers just
scan the directory; the epoch partition column also gives free
per-batch lineage/debugging.

Checkpointing: pass ``checkpoint_dir`` — offsets commit only after
``foreachBatch`` returns, so a crash mid-write replays the epoch and
the overwrite makes the replay harmless.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

__all__ = [
    "drain_stream",
    "write_epoch_partition",
]


def drain_stream(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start ``batch_fn`` as the ``foreachBatch`` sink of ``stream`` and
    drain the backlog (``availableNow``): every stream sink's one start
    chain. Returns the started query; the caller awaits it."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def write_epoch_partition(batch_df: DataFrame, epoch_id: int, path: str) -> None:
    """Write one micro-batch to ``batch_id=<epoch_id>``: re-running the
    same epoch replaces its own partition (idempotent replay), touching
    no other epoch's output.

    Implemented as a write into a hidden staging directory (dot-prefixed,
    so directory scans of ``path`` never see it) followed by one
    delete+rename swap onto the epoch's own directory — the partition
    value is inferred from the directory name on read, the same on-disk
    layout the earlier ``partitionBy("batch_id")`` +
    dynamic-partition-overwrite form produced, minus that form's
    partitioned-write + per-partition commit machinery (this sink runs
    once per micro-batch, so its fixed cost multiplies by the epoch
    count; the swap is two filesystem metadata calls). The
    swap — not a plain ``mode("overwrite")`` of the target dir — is
    load-bearing: overwrite deletes the target BEFORE the job runs, so a
    replayed batch whose frame derives from the sink's own output (the
    replay-idempotency contract pinned by tests/test_stream_sinks.py)
    would read files out from under itself. Writing to staging keeps the
    old files readable for the whole job, like the dynamic form's
    commit-time swap. Strictly stronger idempotency than dynamic
    overwrite: an epoch replayed EMPTY also clears its stale partition
    (dynamic overwrite only replaces partitions present in the written
    data)."""
    target = os.path.join(path, f"batch_id={int(epoch_id)}")
    staging = os.path.join(path, f".batch_id={int(epoch_id)}.staging")
    batch_df.write.mode("overwrite").parquet(staging)
    jvm = batch_df.sparkSession._jvm
    hconf = batch_df.sparkSession._jsc.hadoopConfiguration()
    jtarget = jvm.org.apache.hadoop.fs.Path(target)
    fs = jtarget.getFileSystem(hconf)
    fs.delete(jtarget, True)
    fs.rename(jvm.org.apache.hadoop.fs.Path(staging), jtarget)
