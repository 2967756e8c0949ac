"""Pluggable event-stream sources: the connector seam.

The north star names "Structured Streaming + Kinesis source"
(BASELINE.md). Open-source Spark ships no first-party Kinesis
connector, so this module provides the SEAM a deployment plugs one
into: :func:`open_event_stream` builds any ``readStream`` source from
an injectable (format, options) pair with a declared schema and
applies the SAME event-time normalization the batch loader uses
(``sources/tables.py``, ``normalize_event_time``) — so every operator
downstream (heuristics expressions, windowed aggregations, FSMs, dedup
gates) runs unchanged whether events arrive from parquet files or a
connector that yields event rows.

File sources (parquet/json/csv) are ``fmt`` + ``path`` + declared
``schema``: the ingest capstone (``capstone.run_ingest_pipeline``) opens
its staged parquet slices this way. A message bus whose records arrive
as an opaque payload column (Kafka ``value``, Kinesis ``data``) is
decoded with one ``from_json`` projection after this call.

At 100 TB/day the seam stays scale-correct because it adds only
projections: source parallelism (shard/partition count), watermarks,
and stateful operators are all declared downstream by the consumers,
exactly as they are for file streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fireball_data_processing_spark.sources.tables import normalize_event_time

__all__ = ["open_event_stream"]


def open_event_stream(
    spark: SparkSession,
    fmt: str,
    schema: StructType | str,
    path: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Open a streaming event source and normalize it to the engine's
    event contract: declared columns, event time ``ts`` as int64 epoch
    nanos (streams without a ``ts`` column, e.g. a document firehose
    feeding the ingest capstone, pass through unchanged).

    - ``fmt``/``options``: passed to ``spark.readStream`` verbatim —
      the injection point for a connector (stream name, region,
      starting position, ... all ride ``options``).
    - ``schema``: the EVENT schema, declared on the reader (streaming
      readers must not infer).
    - ``path``: the source location for file sources.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.load(path) if path is not None else reader.load()
    return normalize_event_time(df, "ts")
