"""Bucketed storage for shuffle-free co-located joins.

At 100 TB the biggest recurring cost is the shuffle before every
instance-keyed join/aggregation. Bucketing the event corpus by the
instance key at write time (``bucketBy``) makes every downstream
``groupBy(instance)``, window pass, and event-to-event join
exchange-free: Spark matches the join/aggregation partitioning to the
bucket spec.

The reference gets the same effect accidentally — one process per
instance directory — but cannot join across datasets without re-reading
everything; bucketed tables give the co-location as a durable property of
the storage layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


_BUCKETS = 64


def write_bucketed(df: DataFrame, table: str, bucket_col: str) -> None:
    """Persist as a table bucketed into ``_BUCKETS`` buckets."""
    df.write.mode("overwrite").bucketBy(_BUCKETS, bucket_col).saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
