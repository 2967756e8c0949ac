"""Streaming histogram-quantile sketch — the ingest-side twin of
``operators/sketches.py histogram_quantiles``, completing the streaming
family next to the dedup/quality/drift gates: maintain a running value
distribution over an unbounded stream and answer quantile queries at any
point, without ever sorting or buffering raw values.

Deployment shape mirrors the frozen-LM quality gate
(``quality_stream.py``): the bucket GEOMETRY IS FROZEN — a batch job
calibrates ``(lo, hi, n_buckets)`` over the existing corpus (e.g. from
the batch sketch's min/max pass) and the stream clamps every incoming
value into that fixed grid. Deriving bounds inside the stream would make
bucket identity depend on arrival order; a fixed grid keeps per-epoch
histograms MERGEABLE by plain addition, which is the whole point:

- **State is bucket counts, not values**: each micro-batch reduces to at
  most ``n_buckets`` ``(bucket, cnt)`` rows — one partial-combining
  aggregate inside the epoch, exchange bounded by the bucket count.
- **Exactly-once via the epoch-partitioned idempotent sink**
  (``sinks_stream.write_epoch_partition``): a replayed epoch REPLACES
  its own ``batch_id=`` partition, so counts never double on restart.
- **Reading = merging**: the live quantile estimate aggregates the
  (epochs x buckets)-row state table — integer sums, order-insensitive,
  deterministic — then runs the same interpolation as the batch sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from fireball_data_processing_spark.streaming.sinks_stream import (
    drain_stream,
    write_epoch_partition,
)

__all__ = [
    "histogram_buckets",
    "stream_histogram_sink",
    "read_stream_quantiles",
]


def histogram_buckets(
    df: DataFrame, value_col: str, lo: float, hi: float, n_buckets: int
) -> DataFrame:
    """Reduce a frame to fixed-grid bucket counts ``(bucket, cnt)``.
    Out-of-range values clamp into the edge buckets (the frozen-grid
    contract: the grid must absorb drift beyond calibration bounds
    rather than drop it — edge-bucket mass is also the drift alarm)."""
    v = F.col(value_col).cast("double")
    w = (hi - lo) / float(n_buckets)
    b = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(n_buckets - 1),
    ).cast("bigint")
    return df.select(b.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def stream_histogram_sink(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream files from ``src_dir``, reduce each micro-batch to bucket
    counts, and append them as an epoch partition of the state table.
    Offsets commit only after the epoch write returns, and the write is
    a dynamic-partition overwrite of ``batch_id=<epoch>`` — replay-safe.
    """

    def _sketch_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch_partition(
            histogram_buckets(batch_df, value_col, lo, hi, n_buckets),
            epoch_id,
            state_dir,
        )

    stream = spark.readStream.schema(schema).parquet(src_dir)
    return drain_stream(stream, _sketch_epoch, checkpoint_dir)


def read_stream_quantiles(
    spark: SparkSession,
    state_dir: str,
    lo: float,
    hi: float,
    n_buckets: int,
) -> DataFrame:
    """Current quantile estimates from the accumulated state: merge the
    per-epoch histograms by addition (order-insensitive integer sums),
    then the batch sketch's interpolation — ``(q, est, n)``. The scan is
    (epochs x buckets) rows; compact old epochs on the maintenance
    cadence if a stream runs for months."""
    merged = (
        spark.read.parquet(state_dir)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("double").alias("__cnt"))
    )
    total = merged.agg(F.sum("__cnt").alias("__n"))
    cum_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cumulative = merged.select(
        F.col("bucket").alias("__b"),
        "__cnt",
        F.sum("__cnt").over(cum_w).alias("__cum"),
        (F.sum("__cnt").over(cum_w) - F.col("__cnt")).alias("__cumprev"),
    )
    qdf = total.select(
        F.explode(
            F.array(*[F.lit(q) for q in (0.25, 0.5, 0.75, 0.9, 0.99)])
        ).alias("q"),
        "__n",
    ).select("q", (F.col("q") * F.col("__n")).alias("__r"), "__n")
    w = (hi - lo) / float(n_buckets)
    est = F.lit(lo) + F.lit(w) * (
        F.col("__b") + (F.col("__r") - F.col("__cumprev")) / F.col("__cnt")
    )
    return (
        qdf.join(
            F.broadcast(cumulative),
            (F.col("__cumprev") < F.col("__r"))
            & (F.col("__cum") >= F.col("__r")),
            "left",
        )
        .select(
            "q",
            F.round(est, 6).alias("est"),
            F.col("__n").cast("bigint").alias("n"),
        )
    )
