"""Streaming exponentially-decayed aggregates — the ingest twin of the
batch freshness weighting (``operators/selection.py exp_decay_weight``,
query ``decayed_event_value``), built on the property that makes
exponential decay the ONLY mergeable freshness weight:

    decayed_sum(T) = 0.5 ** ((T - T0) / h) * decayed_sum(T0)

i.e. a sum referenced to a FIXED epoch ``t0`` can be rescaled to any
read time by one scalar multiply. So each micro-batch appends per-group
``(n, dsum)`` rows with every value weighted to the fixed ``t0`` via
the epoch-partitioned idempotent sink (replays replace their own
partition — exactly-once, house contract), epochs MERGE BY ADDITION in
any order, and the read side rescales the merged total to "now". No
state store, no watermark, no re-weighting of history as time passes —
the failure mode of storing weights referenced to a moving "now".

Numerics: the reference epoch should sit inside the data's time range —
weights are ``0.5 ** ((t0 - ts) / h)``, so data far NEWER than ``t0``
grows the stored weight by 2 per half-life of gap. Double overflow
needs ~1000 half-lives of skew; pick ``t0`` near the stream's start and
re-baseline (multiply all stored sums once) only on that scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["decayed_weight_to_ref", "stream_decay_deltas", "read_decayed"]


def decayed_weight_to_ref(ts_ns, t0_ns: int, half_life_days: float):
    """Weight of a value observed at ``ts_ns`` referenced to the fixed
    epoch ``t0_ns``: ``0.5 ** ((t0 - ts) / h)`` — pure codegen."""
    age = (F.lit(int(t0_ns)) - ts_ns).cast("double") / F.lit(86400.0 * 1e9)
    return F.pow(F.lit(0.5), age / F.lit(float(half_life_days)))


def stream_decay_deltas(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    group_col: str,
    value_col: str,
    ts_col: str,
    t0_ns: int,
    half_life_days: float,
    out_path: str,
    checkpoint_dir: str,
):
    """Reduce each micro-batch to per-group ``(group, n, dsum)`` rows
    (values weighted to the fixed reference epoch) and append them
    exactly-once via the epoch-partitioned sink. The exchange per batch
    carries one row per (group x partition) partial."""
    from fireball_data_processing_spark.sources.tables import (
        normalize_event_time,
    )
    from fireball_data_processing_spark.streaming.sinks_stream import (
        drain_stream,
        write_epoch_partition,
    )

    stream = spark.readStream.schema(file_schema).parquet(source_dir)

    def _reduce_and_write(batch_df: DataFrame, epoch_id: int) -> None:
        b = normalize_event_time(batch_df, ts_col)
        w = decayed_weight_to_ref(F.col(ts_col), t0_ns, half_life_days)
        deltas = (
            b.select(
                F.col(group_col).alias("group"),
                (F.col(value_col).cast("double") * w).alias("__wv"),
            )
            .groupBy("group")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.round(F.sum("__wv"), 8).alias("dsum"),
            )
        )
        write_epoch_partition(deltas, epoch_id, out_path)

    return drain_stream(stream, _reduce_and_write, checkpoint_dir)


def read_decayed(
    spark: SparkSession,
    delta_path: str,
    as_of_ns: int,
    t0_ns: int,
    half_life_days: float,
) -> DataFrame:
    """Merge the delta table (addition across epochs — order-free) and
    rescale to ``as_of_ns``: one aggregate over the aggregate-sized
    delta rows, one scalar multiply. Returns
    ``(group, n, decayed_sum)`` ordered by group."""
    scale = 0.5 ** (
        (float(as_of_ns) - float(t0_ns)) / (86400.0 * 1e9)
        / float(half_life_days)
    )
    return (
        spark.read.parquet(delta_path)
        .groupBy("group")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.round(F.sum("dsum") * F.lit(scale), 6).alias(
                "decayed_sum"
            ),
        )
        .orderBy("group")
    )
