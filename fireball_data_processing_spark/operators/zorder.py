"""Z-order clustering: multi-column data-skipping layout on plain parquet.

A table queried by several independent columns (user AND time; source
AND length) can only be sorted by one of them — unless rows are laid
out along a space-filling curve. Interleaving the bits of each
column's normalized value produces the Morton (Z) curve: rows close in
Z are close in EVERY interleaved dimension, so each output file covers
a small rectangle of the key space and per-file parquet min/max stats
prune scans on ANY of the columns. This is what Delta/Iceberg
``OPTIMIZE ZORDER BY`` does; here it is the same technique on public
Spark surface.

Scale design: normalization uses per-column global min/max — two
aggregate-to-one-row passes that enter the plan as one broadcast (a
rank-based normalization would need a global sort per column; min/max
scaling is one cheap agg and is what makes the write a single range
shuffle). The layout write is ``repartitionByRange`` on the z-value
(sampled range boundaries, no total sort) + ``sortWithinPartitions`` —
exactly one exchange end to end.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["interleave_bits", "z_value", "zorder_write"]


def interleave_bits(scaled: Sequence[Column], bits: int) -> Column:
    """Morton-interleave ``bits`` bits of each already-scaled integer
    column (values in [0, 2^bits)): output bit ``i * len(cols) + j``
    is bit ``i`` of column ``j``. Pure bitwise expression tree."""
    n = len(scaled)
    terms = [
        (F.shiftright(c, i).bitwiseAND(F.lit(1))).cast("bigint")
        * F.lit(1 << (i * n + j)).cast("bigint")
        for i in range(bits)
        for j, c in enumerate(scaled)
    ]
    return reduce(lambda a, b: a + b, terms)


_BITS = 12
_N_FILES = 16


def z_value(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Append a ``__z`` column: the Morton code of min/max-normalized
    ``cols``. Normalization stats are one aggregation broadcast back in
    (constant-range columns map to 0). ``_BITS`` per dimension; the code
    fits int64 while ``_BITS * len(cols) <= 62``."""
    if _BITS * len(cols) > 62:
        raise ValueError("12 bits * len(cols) must fit a signed int64")
    stats = df.agg(
        *[
            agg
            for c in cols
            for agg in (
                F.min(c).cast("double").alias(f"__min_{c}"),
                F.max(c).cast("double").alias(f"__max_{c}"),
            )
        ]
    )
    top = F.lit((1 << _BITS) - 1)
    scaled = [
        F.when(
            F.col(f"__max_{c}") > F.col(f"__min_{c}"),
            F.floor(
                (F.col(c).cast("double") - F.col(f"__min_{c}"))
                / (F.col(f"__max_{c}") - F.col(f"__min_{c}"))
                * top
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias(f"__s_{c}")
        for c in cols
    ]
    with_scaled = df.join(F.broadcast(stats)).select(df["*"], *scaled)
    return with_scaled.select(
        *[c for c in df.columns],
        interleave_bits([F.col(f"__s_{c}") for c in cols], _BITS).alias("__z"),
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
) -> None:
    """Write ``df`` as ``_N_FILES`` parquet files clustered along the
    Z-curve of ``cols``: one range shuffle on the Morton code (sampled
    boundaries — no total sort), local sort inside each file, the
    helper column dropped from the output. After this, per-file min/max
    footer stats are narrow on EVERY ``cols`` member, so predicate
    scans skip most files regardless of which column they filter."""
    (
        z_value(df, cols)
        .repartitionByRange(_N_FILES, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
