"""Event-stream ingestion (SURVEY.md section 2.1, S1-S5).

The reference's unit of data is a *combat instance*: a directory of gzipped
JSONL chunk files, one JSON event per line, ordered by sorted filename then
line order (reference ``dataset/utils.py:16-41,59-61``). The idiomatic Spark
ingestion is a single ``spark.read.json`` over ``root/*/*.jsonl.gz`` —
gzip is a transparent codec — plus two derived columns:

- ``instance_id``: the parent directory name, recovered from
  ``input_file_name()`` (S4), so a 100 TB corpus needs no per-instance
  driver loop and no filename manifest.
- ``seq``: a canonical per-instance event ordering (S5). The reference's
  semantics are "sorted filename, then line order"; the distributed
  equivalent is ``row_number() OVER (PARTITION BY instance_id ORDER BY
  file_name, line_no)`` where ``line_no`` is a per-file monotonic id.

Bad-gzip tolerance (the reference skips ``BadGzipFile`` chunks with a
warning, ``dataset/utils.py:22-27``) maps to
``spark.sql.files.ignoreCorruptFiles`` scoped to this read.

Scale note: ``row_number`` per instance shuffles once on ``instance_id``;
every downstream sessionization window reuses that partitioning, so the
whole heuristic suite is one shuffle end-to-end. Instance skew (a few 250MB+
instances) is handled by AQE skew splitting for joins; for the ordered
windows the partition is irreducible — exactly like the reference, where one
process must stream the whole instance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def with_instance_and_seq(df: DataFrame) -> DataFrame:
    """Attach ``instance_id`` (from the file path) and canonical ``seq``.

    ``seq`` orders by (file name, within-file position), matching the
    reference's sorted-filename-then-line-order semantics
    (``dataset/utils.py:40``).
    """
    df = df.withColumn("_file", F.input_file_name()).withColumn(
        "instance_id", F.regexp_extract(F.col("_file"), r"/([^/]+)/[^/]+$", 1)
    )
    # monotonically_increasing_id is increasing within a partition and Spark
    # reads each (file, range) split in order, so (file, mid) reproduces
    # file-then-line order.
    df = df.withColumn("_mid", F.monotonically_increasing_id())
    w = Window.partitionBy("instance_id").orderBy(F.col("_file"), F.col("_mid"))
    return df.withColumn("seq", F.row_number().over(w)).drop("_file", "_mid")


def load_event_stream(
    spark: SparkSession,
    root: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Read a directory-of-instance-directories of gzipped JSONL (S1+S4+S5).

    ``schema`` should normally be the typed event schema
    (``fireball_data_processing_spark.schema.EVENT_SCHEMA``): schema-on-read
    inference requires an extra full pass and widens every column to the
    union of observed types — at 100 TB always pass the schema.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    # S1 bad-gzip tolerance, scoped to this scan rather than session-wide.
    reader = reader.option("ignoreCorruptFiles", "true")
    df = reader.json(f"{root.rstrip('/')}/*/*.jsonl.gz")
    return with_instance_and_seq(df)
