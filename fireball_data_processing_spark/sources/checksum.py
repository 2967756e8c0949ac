"""S6: dataset checksum for memoization.

The reference computes a parallel md5 dirhash over every ``*.gz`` file
(``dataset/utils.py:64-67``). The distributed equivalent hashes the file
*listing* (path, length, modification time) via the binaryFile source's
metadata columns — content-change detection without reading a byte of
data, which is the right trade at 100 TB (the reference reads the whole
corpus to hash it).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def dataset_checksum(
    spark: SparkSession, root: str, pattern: str = "*/*.jsonl.gz"
) -> str:
    """md5 over the sorted file listing."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*")
        .load(f"{root.rstrip('/')}/{pattern}")
    )
    per_file = files.select(
        F.col("path"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("path"),
                F.col("length").cast("string"),
                F.unix_micros(F.col("modificationTime")).cast("string"),
            )
        ).alias("h"),
    )
    row = per_file.agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("path", "h"))),
                    lambda x: x["h"],
                ),
                "",
            )
        ).alias("checksum")
    ).collect()[0]
    return row["checksum"]
