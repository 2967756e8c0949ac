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
from pyspark.sql.window import Window, WindowSpec

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
    (G6)."""
    lo = 0 if include_current else 1
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(lo, Window.unboundedFollowing)
    )
    return F.first(F.when(predicate, value), ignorenulls=True).over(w)


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


def _backward_window(part: list[str], order_col: str) -> WindowSpec:
    """Everything at-or-before the row in its partition. Secondary sort
    on the side flag sets the tie semantics: right rows (side 0) sort
    before left rows at equal order value, so a tie is visible to the
    left row."""
    return (
        Window.partitionBy(*part)
        .orderBy(F.col(order_col).asc(), F.col(_SIDE).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
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

    Single union + ONE partition exchange: both the backward and the forward
    candidate come from two window passes (opposite tie orders) over the
    same hash partitioning, so the union's rows are shuffled once and sorted
    twice — not unioned/shuffled per direction. At 100 TB the second union
    of the naive two-pass form would double the windowed volume.

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
    # tie orders: at equal order value the right row is visible both
    # backward (side 0 sorts first) and forward (side 0 sorts after the
    # probe, window includes it)
    w_b = _backward_window(part, order_col)
    w_f = (
        Window.partitionBy(*part)
        .orderBy(F.col(order_col).asc(), F.col(_SIDE).desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    rk = F.when(F.col(_SIDE) == 0, F.col("__r_key"))
    ro = F.when(F.col(_SIDE) == 0, F.col(order_col))
    u = (
        u.withColumn("__bwd_key", F.last(rk, ignorenulls=True).over(w_b))
        .withColumn("__bwd_ord", F.last(ro, ignorenulls=True).over(w_b))
        .withColumn("__fwd_key", F.first(rk, ignorenulls=True).over(w_f))
        .withColumn("__fwd_ord", F.first(ro, ignorenulls=True).over(w_f))
    )
    d_b = F.col(order_col) - F.col("__bwd_ord")
    d_f = F.col("__fwd_ord") - F.col(order_col)
    take_bwd = F.col("__fwd_ord").isNull() | (
        F.col("__bwd_ord").isNotNull()
        & ((d_b <= d_f) if prefer == "backward" else (d_b < d_f))
    )
    out = (
        u.filter(F.col(_SIDE) == 1)
        .withColumn(
            f"{right_key}_nearest",
            F.when(take_bwd, F.col("__bwd_key")).otherwise(F.col("__fwd_key")),
        )
        .withColumn("nearest_delta", F.when(take_bwd, d_b).otherwise(d_f))
        .withColumn(
            "nearest_ord",
            F.when(take_bwd, F.col("__bwd_ord")).otherwise(F.col("__fwd_ord")),
        )
    )
    return out.drop(
        _SIDE, "__r_key", "__bwd_key", "__bwd_ord", "__fwd_key", "__fwd_ord"
    )
