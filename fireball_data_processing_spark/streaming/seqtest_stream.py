"""Streaming group-sequential SPRT monitor — the ingest twin of the
batch sequential test (``operators/seqtest.py``), in the design
clinical-trial statistics calls GROUP-SEQUENTIAL analysis: the decision
boundary is checked at micro-batch boundaries over cumulative
sufficient statistics, not after every row. A live A/B monitor wants
exactly this: "stop the experiment as soon as a batch's evidence
crosses Wald's boundary".

Why sufficient-statistic deltas and not row state: the Bernoulli SPRT's
log-likelihood ratio is a LINEAR function of (k, n1) — trials seen and
successes seen — so each micro-batch only needs to append its per-group
``(dk, dn1)`` delta row via the epoch-partitioned idempotent sink
(replays replace their own ``batch_id=`` partition: exactly-once
without a transaction log, the house sink contract), and the read side
reconstructs the cumulative LLR walk per group IN EPOCH ORDER and finds
the first crossing. No per-row state store, no watermark, nothing to
checkpoint beyond the source offsets.

Granularity caveat (by design, documented): a crossing that happens
INSIDE a micro-batch and retreats by batch end is not observed — the
monitor tests at batch boundaries, exactly like interim analyses in
group-sequential designs. Feed one row per batch and it degenerates to
the row-exact SPRT (the parity test pins this).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from fireball_data_processing_spark.operators.seqtest import sprt_crossings

__all__ = ["stream_sprt_deltas", "sprt_monitor"]


def stream_sprt_deltas(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    group_col: str,
    success: Column,
    out_path: str,
    checkpoint_dir: str,
):
    """Reduce each micro-batch to per-group ``(group, dk, dn1)``
    sufficient-statistic deltas and append them exactly-once via the
    epoch-partitioned sink. The exchange per batch carries one row per
    (group x partition) partial — nothing row-sized leaves the batch."""
    from fireball_data_processing_spark.streaming.sinks_stream import (
        drain_stream,
        write_epoch_partition,
    )

    stream = spark.readStream.schema(file_schema).parquet(source_dir)

    def _reduce_and_write(batch_df: DataFrame, epoch_id: int) -> None:
        deltas = batch_df.groupBy(
            F.col(group_col).alias("group")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("dk"),
            F.sum(F.when(success, 1).otherwise(0)).cast("bigint").alias(
                "dn1"
            ),
        )
        write_epoch_partition(deltas, epoch_id, out_path)

    return drain_stream(stream, _reduce_and_write, checkpoint_dir)


_ALPHA = 0.05
_BETA = 0.05


def sprt_monitor(
    spark: SparkSession,
    delta_path: str,
    p0: float,
    p1: float,
) -> DataFrame:
    """Read the delta table and report the group-sequential SPRT
    decision per group: cumulative (k, n1) in epoch order, LLR from
    8-dp-rounded per-observation constants (identical arithmetic to
    ``operators/seqtest.sprt_decisions``), first boundary crossing at
    batch granularity. Returns ``(group, decision, epoch_at_decision,
    n_at_decision, llr_at_decision, n_total, llr_final)``; 'continue'
    rows carry NULL *_at_decision fields. One window over the per-group
    epoch rows (epochs x groups — aggregate-sized) + one aggregate.
    Error rates: alpha = beta = 0.05."""
    deltas = spark.read.parquet(delta_path)
    w = Window.partitionBy("group").orderBy("batch_id")
    walked = deltas.select(
        "group",
        F.col("batch_id").cast("bigint").alias("__e"),
        F.sum("dk").over(w).alias("__k"),
        F.sum("dn1").over(w).alias("__n1"),
    )
    agg = sprt_crossings(walked, ["__e"], p0, p1, _ALPHA, _BETA)
    return agg.select(
        "group",
        F.coalesce(F.col("__first.__cross"), F.lit("continue")).alias(
            "decision"
        ),
        F.col("__first.__e").alias("epoch_at_decision"),
        F.col("__first.__k").cast("bigint").alias("n_at_decision"),
        F.round(F.col("__first.__llr"), 6).alias("llr_at_decision"),
        "n_total",
        F.round(F.col("__last.__llr"), 6).alias("llr_final"),
    ).orderBy("group")
