"""Parquet table loaders for the synthetic test corpus.

The driver materializes a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` (TESTDATA.md). One parquet file per table at
``{sf_dir}/{name}.parquet``.

At 100 TB each "table" would be a partitioned directory; ``load_table``
takes any path Spark's parquet reader accepts, so the same call works on a
single file or a 10k-file partitioned layout. Column pruning and predicate
pushdown then come from Catalyst for free — callers should select/filter
before any wide transformation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from fireball_data_processing_spark.sources.checksum import dataset_checksum, list_files

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Embedding dimensionality per table listing — the similarity /
# clustering operators read column metadata ``{"dim": N}`` before falling
# back to an eager one-row peek (operators/similarity.py ``_infer_dim``),
# so attaching it at load time turns a per-OPERATOR driver job into one
# per-TABLE peek memoized for the process lifetime. A producer writing
# real tables would persist this in the table metadata; the memo is the
# local stand-in.
_DIM_MEMO: dict[str, int] = {}

# Loaded-table memo: (Spark application id, resolved path) -> (listing
# key, frame). Building a parquet DataFrame lists files and reads footers
# driver-side (~0.1 s per table locally; much worse against object storage
# with 10k-file tables), and every catalog query re-paid it per load. A
# metastore-backed production table amortizes this in the shared
# CatalogFileIndex; the memo is the path-based equivalent. The listing key
# is the table's file-level checksum (path + length + mtime,
# ``sources/checksum.py``; one driver-side listing, no data read), so a
# table rewritten under the same path is loaded again, not served from the
# old file listing.
_TABLE_MEMO: dict[tuple[str, str], tuple[str, DataFrame]] = {}


def normalize_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize a timestamp-typed event-time column to int64 epoch nanos.

    No-op when the column is absent or already numeric (older corpora
    encode TIMESTAMP(NANOS) parquet, which is read as int64 directly via
    ``nanosAsLong``; the FIREBALL stream keeps float epoch seconds). The
    NTZ conversion is wall-clock arithmetic — session-timezone-independent
    and bit-identical to DuckDB's ``epoch_ns`` on the same file. Works on
    both batch and streaming DataFrames (pure projection).
    """
    if ts_col not in df.columns:
        return df
    ts_type = df.schema[ts_col].dataType
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn(
            ts_col,
            F.expr(
                f"timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col}) * 1000"
            ),
        )
    if isinstance(ts_type, TimestampType):
        return df.withColumn(ts_col, F.unix_micros(F.col(ts_col)) * F.lit(1000))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from the scale-factor directory.

    The ``events`` table's ``ts`` is normalized to **int64 epoch
    nanoseconds** regardless of how the corpus encoded it:

    - TIMESTAMP(NANOS) parquet (older corpora) is read as int64 directly
      (``spark.sql.legacy.parquet.nanosAsLong``) — already nanos.
    - TIMESTAMP(MICROS) parquet (current corpora) arrives as
      TIMESTAMP_NTZ; it is converted with ``timestampdiff(MICROSECOND,
      epoch, ts) * 1000`` — pure wall-clock arithmetic, independent of the
      session time zone, and bit-identical to DuckDB's ``epoch_ns(ts)``
      on the same file.

    Every stream operator treats event time as an exact integer
    (``StreamSchema.ts_unit == 'nanos_long'``), which keeps timestamp
    deltas reproducible across engines — the reason the oracle checks
    hash-match.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, path)
    listing = dataset_checksum(list_files(sf_dir, f"{name}.parquet"))
    hit = _TABLE_MEMO.get(key)
    if hit is not None and hit[0] == listing:
        return hit[1]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_time(df, "ts")
    if name == "embeddings" and "embedding" in df.columns:
        dim = _DIM_MEMO.get(listing)
        if dim is None:
            row = df.select(F.size("embedding").alias("__d")).first()
            if row is not None and row["__d"] is not None and row["__d"] > 0:
                dim = _DIM_MEMO[listing] = int(row["__d"])
        if dim is not None:
            df = df.withMetadata("embedding", {"dim": dim})
    _TABLE_MEMO[key] = (listing, df)
    return df
