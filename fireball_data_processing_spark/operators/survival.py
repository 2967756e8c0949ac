"""Survival analysis over event streams: the Kaplan-Meier
product-limit estimator of time-to-conversion with right censoring —
"what fraction of users have NOT yet converted by day t?", answered
correctly for users still under observation, which a naive
conversion-rate cut ignores (dropping censored users biases the curve
down; counting them as non-converters biases it up; KM handles both).

Scale design: the data-proportional work is ONE per-subject aggregate
(first exposure, first conversion) — everything after runs at the
DURATION grain (one row per distinct duration bucket, bounded by the
observation window): risk sets are a suffix sum over duration order,
and the product limit is ``exp(cumsum(ln(1 - d/n)))`` — a window over
the bucket-grain frame, never the data. Per-bucket log terms are
rounded to ``round_dp`` so a SQL oracle replays the curve exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

__all__ = ["km_curve", "logrank_test"]


def _suffix_sum(x: Column, w: WindowSpec) -> Column:
    """``sum(x)`` from this row to the end of its ordered window ``w``, as
    the partition total minus the running sum before this row. Both frames
    share ``w``'s sort and cost O(1) per row; a frame from the current row
    to ``unboundedFollowing`` would recompute the suffix for every row,
    O(n^2). Exact while ``x`` holds integers (counts, also as doubles)."""
    total = F.sum(x).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    upto = F.sum(x).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return total - upto + x


def km_curve(durations: DataFrame) -> DataFrame:
    """Kaplan-Meier curve from a per-subject frame of
    ``(duration, event)`` — duration in integer buckets (e.g. days),
    ``event`` true for an observed conversion, false for censoring at
    that duration. Returns one row per duration bucket that appears:
    ``(duration, n_risk, n_events, n_censored, survival)`` with
    ``survival`` the product-limit estimate just AFTER that bucket,
    ordered by duration.

    One grouped aggregate to the bucket grain, one suffix-sum window
    for risk sets, one cumulative-log window for the product — both
    windows run over the bucket-grain frame.
    """
    per = (
        durations.select(
            F.col("duration").cast("bigint").alias("duration"),
            F.when(F.col("event").cast("boolean"), 1)
            .otherwise(0)
            .alias("__e"),
        )
        .groupBy("duration")
        .agg(
            F.sum("__e").cast("bigint").alias("n_events"),
            F.sum(F.lit(1) - F.col("__e")).cast("bigint").alias(
                "n_censored"
            ),
        )
    )
    w = Window.orderBy("duration")
    risked = per.select(
        "duration",
        _suffix_sum(F.col("n_events") + F.col("n_censored"), w)
        .cast("bigint")
        .alias("n_risk"),
        "n_events",
        "n_censored",
    )
    # d == n (everyone at risk converts) drives survival to exactly 0;
    # ln(0) is NULL in Spark and -inf in DuckDB, so both engines take a
    # -1e9 sentinel instead — exp() underflows it to 0.0 identically.
    d = F.col("n_events").cast("double")
    nr = F.col("n_risk").cast("double")
    log_term = F.round(
        F.when(F.col("n_events") <= 0, F.lit(0.0))
        .when(F.col("n_events") == F.col("n_risk"), F.lit(-1e9))
        .otherwise(F.log(F.lit(1.0) - d / nr)),
        8,
    )
    cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return risked.select(
        "duration",
        "n_risk",
        "n_events",
        "n_censored",
        F.round(F.exp(F.sum(log_term).over(cum)), 6).alias("survival"),
    ).orderBy("duration")


def logrank_test(durations: DataFrame, group_col: str) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966) — "do these two cohorts
    convert at the same hazard?", the hypothesis test the two KM curves
    alone can't settle. ``group_col`` must take exactly two values; the
    statistic is computed for the lexicographically FIRST group:

        z = sum_t (O1_t - E1_t) / sqrt(sum_t V_t)

    with, at each duration bucket t having d_t events out of n_t at
    risk: ``E1 = n1 * d / n`` and hypergeometric variance
    ``V = d * (n1/n) * (1 - n1/n) * (n - d) / (n - 1)`` (0 when
    n <= 1). Returns ONE row
    ``(group_a, group_b, n_a, n_b, o_minus_e, var, z)``.

    Same scale shape as km_curve: one per-(group, duration) aggregate,
    suffix-sum windows for the per-group risk sets, then arithmetic on
    the duration-grain frame. Per-bucket terms are rounded so a SQL
    oracle replays the statistic exactly."""
    per = (
        durations.select(
            F.col(group_col).alias("g"),
            F.col("duration").cast("bigint").alias("t"),
            F.when(F.col("event").cast("boolean"), 1)
            .otherwise(0)
            .alias("__e"),
        )
        .groupBy("g", "t")
        .agg(
            F.sum("__e").cast("double").alias("d"),
            F.count(F.lit(1)).cast("double").alias("c"),
        )
    )
    # ONE execution of the durations pipeline for the whole statistic,
    # not FOUR — a
    # distinct().collect() for the two group labels, one count() per
    # group for (n_a, n_b), and the statistic itself. Everything after
    # the (group, duration) aggregate is bucket-grain (bounded by
    # construction), so the labels ride a global window, the group
    # split becomes conditional aggregates on the duration grid (the
    # exact same pairing the full-outer join produced), and the group
    # totals fold into the final one-row rollup (sum of per-bucket
    # counts IS the group's subject count).
    wall = Window.partitionBy()
    risked = per.select(
        "g", "t", "d", "c",
        _suffix_sum(F.col("c"), Window.partitionBy("g").orderBy("t")).alias(
            "n_risk"
        ),
    ).select(
        "g", "t", "d", "c", "n_risk",
        F.min("g").over(wall).alias("__ga"),
        F.max("g").over(wall).alias("__gb"),
    )
    is_a = F.col("g") == F.col("__ga")
    # per-duration table over the union of observed buckets: a group
    # with no row at t is still AT RISK with its next bucket's suffix
    # count — carry it via a running backfill (last_value of the suffix
    # sums ordered descending); max(when(...)) reads off each group's
    # single (g, t) row, NULL when the group is absent at t, exactly
    # the full-outer-join-and-coalesce semantics of the old two-branch
    # form (whose filter branches re-planned the risked subtree twice).
    grid = risked.groupBy("t").agg(
        F.max(F.when(is_a, F.col("d"))).alias("d1"),
        F.max(F.when(is_a, F.col("n_risk"))).alias("n1"),
        F.max(F.when(~is_a, F.col("d"))).alias("d2"),
        F.max(F.when(~is_a, F.col("n_risk"))).alias("n2"),
        F.sum(F.when(is_a, F.col("c"))).alias("__ca"),
        F.sum(F.when(~is_a, F.col("c"))).alias("__cb"),
        F.max("__ga").alias("__ga"),
        F.max("__gb").alias("__gb"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = grid.select(
        "t",
        F.coalesce(F.col("d1"), F.lit(0.0)).alias("d1"),
        F.coalesce(F.col("d2"), F.lit(0.0)).alias("d2"),
        F.coalesce(
            F.col("n1"), F.max(F.col("n1")).over(wdesc), F.lit(0.0)
        ).alias("n1"),
        F.coalesce(
            F.col("n2"), F.max(F.col("n2")).over(wdesc), F.lit(0.0)
        ).alias("n2"),
        "__ca", "__cb", "__ga", "__gb",
    )
    d = F.col("d1") + F.col("d2")
    n = F.col("n1") + F.col("n2")
    e1 = F.col("n1") * d / n
    v = F.when(
        n > 1.0,
        d * (F.col("n1") / n) * (1.0 - F.col("n1") / n) * (n - d) / (n - 1.0),
    ).otherwise(F.lit(0.0))
    terms = filled.select(
        F.round(F.col("d1") - e1, 8).alias("__ome"),
        F.round(v, 8).alias("__v"),
        "__ca", "__cb", "__ga", "__gb",
    )
    agg = terms.agg(
        F.round(F.sum("__ome"), 8).alias("ome"),
        F.round(F.sum("__v"), 8).alias("var"),
        F.sum("__ca").cast("bigint").alias("n_a"),
        F.sum("__cb").cast("bigint").alias("n_b"),
        F.max("__ga").alias("group_a"),
        F.max("__gb").alias("group_b"),
    )
    return agg.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(F.col("ome"), 6).alias("o_minus_e"),
        F.round(F.col("var"), 6).alias("var"),
        F.round(F.col("ome") / F.sqrt(F.col("var")), 6).alias("z"),
    )
