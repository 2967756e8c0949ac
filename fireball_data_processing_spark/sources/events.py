"""Event-stream ingestion (SURVEY.md section 2.1, S1-S5).

The reference's unit of data is a *combat instance*: a directory of gzipped
JSONL chunk files, one JSON event per line, ordered by sorted filename then
line order (reference ``dataset/utils.py:16-41,59-61``). ``chunk_files``
lists ``root/*/*.jsonl.gz`` on the driver (contract: ``sources/checksum.py``)
and ``load_event_stream`` reads exactly those files with one
``spark.read.json``, raising Spark's parallel-listing threshold for that
read only (``listed_read``), so Spark does not list them again in a job.
It adds:

- ``instance_id``: the parent directory name, recovered from
  ``input_file_name()`` and percent-decoded, so it equals the listed
  name (S4).
- ``seq``: a canonical per-instance event ordering (S5). The reference's
  semantics are "sorted filename, then line order"; the distributed
  equivalent is ``row_number() OVER (PARTITION BY instance_id ORDER BY
  file_name, line_no)`` where ``line_no`` is a per-file monotonic id. It
  depends only on the instance's files: reading them alone gives the same.

Bad-gzip tolerance (the reference skips ``BadGzipFile`` chunks with a
warning, ``dataset/utils.py:22-27``) maps to ``ignoreCorruptFiles`` scoped
to this read: a corrupt chunk is listed but yields no rows.

Scale note: ``row_number`` per instance shuffles once on ``instance_id``;
every downstream sessionization window reuses that partitioning, so the
whole heuristic suite is one shuffle end-to-end. Instance skew (a few 250MB+
instances) is handled by AQE skew splitting for joins; for the ordered
windows the partition is irreducible — exactly like the reference, where one
process must stream the whole instance.

A small read skips the shuffle: when the listed (compressed) chunk bytes
are at most ``spark.sql.adaptive.coalescePartitions.minPartitionSize``, the
floor AQE keeps under one coalesced shuffle partition (reused, so the gate
adds no setting), the scan is coalesced to one task before
``with_instance_and_seq``. One partition satisfies the ``seq`` window's
clustering and any later ``orderBy``, so neither plans an exchange: a
lookup of one instance is one job.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fireball_data_processing_spark.schema import EVENT_SCHEMA
from fireball_data_processing_spark.session import conf_bytes
from fireball_data_processing_spark.sources.checksum import File, list_files

_THRESHOLD_LOCK = threading.Lock()


def chunk_files(root: str) -> list[File]:
    """The corpus listing: every chunk file of every instance directory."""
    return list_files(root, "*/*.jsonl.gz")


def instance_of(path: str) -> str:
    """A listed chunk's instance id, as ``with_instance_and_seq`` finds it."""
    return path.rsplit("/", 2)[-2]


def with_instance_and_seq(df: DataFrame) -> DataFrame:
    """Attach ``instance_id`` (from the file path) and canonical ``seq``.

    ``seq`` orders by (file name, within-file position), matching the
    reference's sorted-filename-then-line-order semantics
    (``dataset/utils.py:40``).
    """
    # input_file_name() is a URI: percent-decode the directory name back to
    # the listed one (``instance_of``). A '+' is literal in a URI path, so it
    # is escaped first: url_decode would read it as a space.
    df = df.withColumn("_file", F.input_file_name()).withColumn(
        "instance_id",
        F.url_decode(F.regexp_replace(
            F.regexp_extract(F.col("_file"), r"/([^/]+)/[^/]+$", 1), r"\+", "%2B"
        )),
    )
    # monotonically_increasing_id is increasing within a partition and Spark
    # reads each (file, range) split in order, so (file, mid) reproduces
    # file-then-line order.
    df = df.withColumn("_mid", F.monotonically_increasing_id())
    w = Window.partitionBy("instance_id").orderBy(F.col("_file"), F.col("_mid"))
    return df.withColumn("seq", F.row_number().over(w)).drop("_file", "_mid")


@contextmanager
def listed_read(spark: SparkSession, n_paths: int) -> Iterator[None]:
    """Scope for building a read of ``n_paths`` explicit, already-listed paths.

    Spark would list more than ``parallelPartitionDiscovery.threshold`` (32)
    paths again in a parallel job, so the read alone raises it: partitioned
    tables elsewhere still want the parallel listing at scale.
    """
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    # the session conf is shared: concurrent reads must not interleave
    with _THRESHOLD_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(max(n_paths, int(prev))))
        try:
            yield
        finally:
            spark.conf.set(key, prev)


def read_chunks(spark: SparkSession, files: list[File]) -> DataFrame:
    """The listed chunk files as typed JSON rows, without ``instance_id``
    or ``seq`` (S1): one ``spark.read.json`` that tolerates corrupt chunks."""
    # S1 bad-gzip tolerance, scoped to this scan rather than session-wide.
    reader = spark.read.schema(EVENT_SCHEMA).option("ignoreCorruptFiles", "true")
    with listed_read(spark, len(files)):
        return reader.json([path for path, _, _ in files])


def load_event_stream(spark: SparkSession, files: list[File]) -> DataFrame:
    """Read listed chunk files (``chunk_files``) as typed events (S1+S4+S5).

    At most ``minPartitionSize`` listed bytes read in one task with no
    exchange (module docstring); more keep the shuffle on ``instance_id``.
    """
    df = read_chunks(spark, files)
    gate = conf_bytes(
        spark, "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB"
    )
    if sum(size for _, size, _ in files) <= gate:
        df = df.coalesce(1)
    return with_instance_and_seq(df)
