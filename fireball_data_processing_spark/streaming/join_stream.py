"""Watermarked stream-stream interval join.

The streaming twin of the batch message↔command correlation family
(reference ``heuristics/distill.py`` pairs commands with the messages
that precede them; the batch engine expresses that as window/as-of
joins — ``operators/asof.py``, ``operators/correlate.py``). When both
sides arrive as live streams, the same semantics become a stream-stream
inner join with:

- an **equality key** (the user/instance) so state is hash-partitioned,
- a **time-range predicate** (the view within 10 minutes BEFORE the
  purchase anchor) so each side's state is bounded by the gap,
- **watermarks on both inputs** so Spark can discard state older than
  the gap plus allowed lateness — without them a stream-stream join
  buffers forever (Spark refuses the query in append mode).

State size at scale = events within (watermark + gap) per key — input
rate × horizon, independent of stream lifetime. That bounded-state
argument is the whole design; the join itself is the ordinary
symmetric-hash stream join Spark plans for co-partitioned inputs.

Batch twin: the ``purchase_view_interval_join`` catalog query (same
predicate on int64 nanos, DuckDB-oracled); parity is tested by replaying
files through this stream and comparing to the batch join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fireball_data_processing_spark.schema import StreamSchema
from fireball_data_processing_spark.streaming.windowed import event_time_stream


def interval_join_stream(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    s: StreamSchema,
) -> DataFrame:
    """All (purchase, view) event pairs per instance where the view lands
    in ``[purchase_ts - 10 minutes, purchase_ts]``, both sides under a
    30-minute watermark.

    Both sides are filtered projections of ONE file stream (Spark re-reads
    the source per side; with a message bus each side would subscribe
    independently). Output columns:
    ``(instance, anchor_id, match_id, anchor_ts, match_ts, gap_micros)``
    in append mode — a pair is emitted exactly once, when both events have
    arrived and neither can be retracted by late data.
    """
    base = event_time_stream(spark, source_dir, file_schema, s)

    anchors = (
        base.filter(F.col(s.type_col) == "purchase")
        .select(
            F.col(s.instance_col).alias("instance"),
            F.col(s.seq_col).alias("anchor_id"),
            F.col("event_ts").alias("anchor_ts"),
        )
        .withWatermark("anchor_ts", "30 minutes")
    )
    matches = (
        base.filter(F.col(s.type_col) == "view")
        .select(
            F.col(s.instance_col).alias("m_instance"),
            F.col(s.seq_col).alias("match_id"),
            F.col("event_ts").alias("match_ts"),
        )
        .withWatermark("match_ts", "30 minutes")
    )
    joined = anchors.join(
        matches,
        F.expr(
            """
            instance = m_instance AND
            match_ts >= anchor_ts - interval 10 minutes AND
            match_ts <= anchor_ts
            """
        ),
        "inner",
    )
    return joined.select(
        "instance",
        "anchor_id",
        "match_id",
        "anchor_ts",
        "match_ts",
        (
            F.unix_micros(F.col("anchor_ts")) - F.unix_micros(F.col("match_ts"))
        ).alias("gap_micros"),
    )
