"""Consecutive-run grouping (G7) — change-point detection.

The reference groups consecutive message-groups by ``(is_only_message,
author_id)`` with ``itertools.groupby`` and merges runs
(``distill1_time_group.py:33-42``, ``heuristics/utils.py:40-44``). The
distributed equivalent: flag rows whose key differs from the previous row's
(null-safe), then a running sum of flags yields a per-partition run id —
one ordered window over the shared instance-key exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def with_run_ids(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    key_cols: Sequence[str | Column],
) -> DataFrame:
    """Add ``run_id``: 1-based index of the consecutive run of equal
    ``key_cols`` values within each partition (ordered by ``order_col``)."""
    keys = [F.col(k) if isinstance(k, str) else k for k in key_cols]
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    changed = F.lit(False)
    for k in keys:
        changed = changed | ~k.eqNullSafe(F.lag(k).over(w))
    # first row of each partition: lag is null -> eqNullSafe False -> True
    flag = F.when(changed, 1).otherwise(0)
    run = F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn("run_id", run)
