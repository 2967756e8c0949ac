"""As-of / nearest joins — the reference's characteristic join family.

Reference semantics re-expressed:

- backward as-of: ``combat_state_at_event`` — last state update at-or-before
  an event (``heuristics/utils.py:153-160``, G5).
- forward as-of: ``combat_state_after_event`` — first state update
  at-or-after (``heuristics/utils.py:162-169``, G6).
- nearest: each utterance attaches to the automation-run group minimizing
  ``abs(ts_diff)``, ties to the earlier one (``distill1_time_group.py:48-52``,
  G8 — the pandas ``merge_asof(direction='nearest')`` analog).

Spark SQL has no native ASOF JOIN. Two formulations are provided:

``asof_*_col``
    single-table form: pull a value from the latest/earliest row matching a
    predicate within the same partition — a pure window expression, zero
    extra shuffles beyond the shared instance-key exchange.

``nearest_join``
    two-table form via **union + window**, not a join: tag each side, union,
    and take ``last(right_value) ignore nulls`` over an ordered window. One
    shuffle on the partition key, no O(n*m) range-join blowup, no skew
    amplification — this is the 100 TB-safe formulation (a range join would
    rescan the right side per left row; AQE cannot save a cross-instance
    range join at that scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_SIDE = "__asof_side"  # 0 = right (lookup source), 1 = left (probe)


def asof_backward_col(
    predicate: Column,
    value: Column,
    partition_cols: Sequence[str],
    order_col: str,
    include_current: bool = True,
) -> Column:
    """Value of the last row satisfying ``predicate`` at-or-before this row
    (G5). With ``include_current=False``, strictly-before."""
    hi = 0 if include_current else -1
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    return F.last(F.when(predicate, value), ignorenulls=True).over(w)


def asof_forward_col(
    predicate: Column,
    value: Column,
    partition_cols: Sequence[str],
    order_col: str,
    include_current: bool = True,
) -> Column:
    """Value of the first row satisfying ``predicate`` at-or-after this row
    (G6): the last such row of a running frame over the reversed order, so
    each row costs O(1), not the O(n) of a shrinking suffix frame."""
    hi = 0 if include_current else -1
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    return F.last(F.when(predicate, value), ignorenulls=True).over(w)


def _side_union(
    left: DataFrame,
    right: DataFrame,
    part: list[str],
    order_col: str,
    lifted: list,
) -> DataFrame:
    """``left`` rows (side 1) unioned with ``right`` rows (side 0) in
    ``left``'s columns, the right rows null-padded outside ``part`` and
    ``order_col``. Each ``(name, right column, type)`` of ``lifted``
    carries a right value, null on the left rows."""
    l_sel = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias(_SIDE),
        *[F.lit(None).cast(t).alias(name) for name, _, t in lifted],
    )
    r_sel = right.select(
        *[
            F.col(c) if c in (*part, order_col) else F.lit(None).cast(
                left.schema[c].dataType
            ).alias(c)
            for c in left.columns
        ],
        F.lit(0).alias(_SIDE),
        *[col.alias(name) for name, col, _ in lifted],
    )
    return l_sel.unionByName(r_sel)


def with_nearest(
    df: DataFrame,
    part: Sequence[str],
    order_col: str,
    side_col: str,
    key_col: str,
    prefer: str = "backward",
) -> DataFrame:
    """Add ``__near_key`` and ``__near_ord``: the ``key_col`` and
    ``order_col`` of the side-0 row (the anchor) nearest each row of its
    partition by ``abs(order delta)``. An anchor at the row's own order
    value is visible both backward and forward; an equidistant pair goes
    backward with ``prefer='backward'``, forward otherwise. Among anchors
    tied on the order value the key breaks the tie: the backward candidate
    is the largest key, the forward candidate the smallest. An anchor row
    finds itself.

    Plan: both candidates are ``last(ignorenulls)`` over a running frame
    (``unboundedPreceding`` to the current row), the backward one over
    ``(order, side, key)`` ascending, the forward one over the reversed
    order ``(order desc, side asc, key desc)``. That is two sorts of the
    partition and O(1) per row, O(n log n) per partition. The forward
    candidate as ``first(ignorenulls)`` over a suffix frame would plan
    Spark's unbounded-following frame, which recomputes the suffix for
    every row: O(n^2) per partition.
    """
    o, side, key = F.col(order_col), F.col(side_col), F.col(key_col)
    upto = (Window.unboundedPreceding, Window.currentRow)
    w = Window.partitionBy(*part)
    w_b = w.orderBy(o.asc(), side.asc(), key.asc()).rowsBetween(*upto)
    w_f = w.orderBy(o.desc(), side.asc(), key.desc()).rowsBetween(*upto)
    ak = F.when(side == 0, key)
    ao = F.when(side == 0, o)
    tagged = (
        df.withColumn("__bwd_key", F.last(ak, ignorenulls=True).over(w_b))
        .withColumn("__bwd_ord", F.last(ao, ignorenulls=True).over(w_b))
        .withColumn("__fwd_key", F.last(ak, ignorenulls=True).over(w_f))
        .withColumn("__fwd_ord", F.last(ao, ignorenulls=True).over(w_f))
    )
    d_b = o - F.col("__bwd_ord")
    d_f = F.col("__fwd_ord") - o
    take_bwd = F.col("__fwd_ord").isNull() | (
        F.col("__bwd_ord").isNotNull()
        & ((d_b <= d_f) if prefer == "backward" else (d_b < d_f))
    )
    return tagged.select(
        *df.columns,
        F.when(take_bwd, F.col("__bwd_key"))
        .otherwise(F.col("__fwd_key"))
        .alias("__near_key"),
        F.when(take_bwd, F.col("__bwd_ord"))
        .otherwise(F.col("__fwd_ord"))
        .alias("__near_ord"),
    )


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    right_key: str,
    prefer: str = "backward",
) -> DataFrame:
    """For each left row, the ``right_key`` of the nearest right row by
    ``abs(order delta)`` within the partition (G8). Ties go to the earlier
    (backward) row when ``prefer='backward'`` — the reference uses ``<=`` on
    the backward candidate (``distill1_time_group.py:48-52``).

    Among right rows tied on the order value, the backward candidate is
    the one with the largest ``right_key``, the forward candidate the one
    with the smallest (:func:`with_nearest`).

    Plan: one union, ONE exchange on the partition key and two sorts of
    it, one per candidate, each a running frame (:func:`with_nearest`):
    O(n log n) per partition. Both candidates come from the same hash
    partitioning, so the union is shuffled once, not once per direction.

    Output adds ``{right_key}_nearest``, ``nearest_delta``, and
    ``nearest_ord`` (the matched right row's own order value, so callers
    like distill1's before/after tagging need no join back to the right
    side).
    """
    part = list(partition_cols)
    key_t = right.schema[right_key].dataType
    u = _side_union(
        left, right, part, order_col, [("__r_key", F.col(right_key), key_t)]
    )
    near = with_nearest(u, part, order_col, _SIDE, "__r_key", prefer)
    return near.filter(F.col(_SIDE) == 1).select(
        *left.columns,
        F.col("__near_key").alias(f"{right_key}_nearest"),
        F.abs(F.col(order_col) - F.col("__near_ord")).alias("nearest_delta"),
        F.col("__near_ord").alias("nearest_ord"),
    )
