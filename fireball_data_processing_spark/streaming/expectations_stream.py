"""Streaming intake contract — the data-quality expectation suite
(``operators/expectations.py``, the Deequ idiom) applied where intake
actually happens: per micro-batch, with the pass/fail ledger written
exactly-once and the batch routed wholesale by its verdict.

This completes the ingest-gate family (exact-dup / near-dup /
segment-scrub / quality in ``dedup_stream.py`` / ``quality_stream.py``)
with the CONTRACT gate: those gates judge individual rows, this one
judges the BATCH — a malformed intake drop (duplicate keys, broken
references, out-of-domain values) is rejected as a unit and lands in
quarantine for the producer to fix, the standard warehouse intake
pattern (re-delivering a corrected drop replaces the quarantined one).

Plan shape, all stateless: the caller declares the suite ONCE as a
``checks_fn(batch_df) -> list[one-row frames]`` over any batch; per
epoch the batch is persisted (each check scans it once — without the
persist every check would re-read the source), the suite ledger
(n_checks rows) is collected driver-side to decide the verdict
(bounded by suite size, never data size), and idempotent writes
follow: the ledger on the shared ``write_epoch_partition`` sink, and
the batch to BOTH routed destinations — the verdict's path gets the
rows, the other path gets its ``batch_id=<epoch>`` directory
overwritten EMPTY. Writing the loser empty (rather than skipping it)
is what makes replay exact under redelivery: when a producer replaces
a quarantined drop with a corrected file and the epoch's verdict FLIPS
on replay, dynamic partition overwrite alone would leave the stale
copy in the old destination (it only replaces partitions present in
the new write); the explicit epoch-directory overwrite clears it.

At corpus scale nothing here grows with data except the checks
themselves (scan + constant-output aggregates, AQE-sized FK joins —
see the operator module's notes); the ledger is n_checks rows per
epoch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fireball_data_processing_spark.operators.expectations import (
    expectation_suite,
)
from fireball_data_processing_spark.streaming.sinks_stream import (
    drain_stream,
    write_epoch_partition,
)

__all__ = ["run_expectation_gate", "run_expectation_gate_from_stream"]


# The routing writes below need the replacement to happen even for an
# EMPTY frame (a verdict flip on replay must clear the stale copy);
# write_epoch_partition now has exactly those semantics (it overwrites
# the epoch's own directory directly), so the former local
# ``_overwrite_epoch_dir`` helper is just an alias for the shared sink.
_overwrite_epoch_dir = write_epoch_partition


def run_expectation_gate_from_stream(
    stream: DataFrame,
    checks_fn: Callable[[DataFrame], list[DataFrame]],
    ledger_path: str,
    checkpoint_dir: str,
    admit_path: str | None = None,
    quarantine_path: str | None = None,
):
    """Drive the contract gate over ANY streaming frame — the connector
    seam (test-pinned directly): swap the file source for a real
    connector by passing its frame here.

    The call drains the backlog (``availableNow``), blocks until the
    stream finishes and returns the terminated query."""

    def _gate(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            ledger = expectation_suite(checks_fn(batch_df))
            rows = ledger.collect()  # n_checks rows — suite-bounded
            write_epoch_partition(
                batch_df.sparkSession.createDataFrame(rows, ledger.schema),
                epoch_id,
                ledger_path,
            )
            admitted = all(r["passed"] for r in rows)
            # winner gets the rows; loser's epoch dir is overwritten
            # EMPTY so a verdict flip on redelivery replay clears the
            # stale copy (see module docstring)
            empty = batch_df.limit(0)
            for route, df in (
                (admit_path, batch_df if admitted else empty),
                (quarantine_path, empty if admitted else batch_df),
            ):
                if route is not None:
                    _overwrite_epoch_dir(df, epoch_id, route)
        finally:
            batch_df.unpersist()

    q = drain_stream(stream, _gate, checkpoint_dir)
    q.awaitTermination()
    return q


def run_expectation_gate(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    checks_fn: Callable[[DataFrame], list[DataFrame]],
    ledger_path: str,
    checkpoint_dir: str,
    admit_path: str | None = None,
    quarantine_path: str | None = None,
):
    """File-landing form: each arriving file (an intake drop) becomes
    one micro-batch (``maxFilesPerTrigger``) and is admitted or
    quarantined as a unit against the declared contract."""
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return run_expectation_gate_from_stream(
        stream,
        checks_fn,
        ledger_path,
        checkpoint_dir,
        admit_path=admit_path,
        quarantine_path=quarantine_path,
    )
