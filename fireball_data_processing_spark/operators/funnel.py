"""Ordered-funnel and cohort-retention analytics over the event stream —
the two sequence-aggregation staples of product/usage analysis, expressed
as pure key-partitioned DataFrame plans (no per-user Python, no
collect): "of the users who did step 1, how many went on to do step 2
AFTER it?" and "of the users who first appeared in week W, how many were
still active k weeks later?".

Extends the reference's per-instance sequence operators (SURVEY §2.3's
window search / as-of family answers "what happened near this event";
the funnel/cohort forms aggregate those sequences corpus-wide).

Scale design:

- **Funnel**: the step-k first-touch time is a conditional min that must
  see the step-(k-1) time, so the plan is a chain of window minima OVER
  THE SAME partitioning (``partitionBy(user)``): Catalyst plans ONE
  exchange for the whole chain — consecutive Window nodes share the
  hash partitioning — and the per-user reduction afterwards reuses it.
  One shuffle total for any number of steps, then a scalar aggregate.
- **Cohort**: two user-keyed aggregates (first period, distinct
  activity) plus a join of the period-sized cohort table — the activity
  frame shuffles once on user and once on (cohort, offset), both
  partial-combining. Period ids are integer divisions of int64 epoch
  nanos (engine-exact — never float math on nanos; doubles lose ns
  precision above 2^53).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["funnel_steps", "cohort_retention"]

WEEK_NS = 7 * 86400 * 1_000_000_000


def funnel_steps(events: DataFrame, steps: Sequence[str]) -> DataFrame:
    """First-touch ordered funnel: a user completes step k at the
    EARLIEST event of type ``steps[k]`` at-or-after their step k-1
    completion time (ties allowed — simultaneous events count, matching
    the >= convention). Returns one row per step:
    ``(step, event_type, n_users, conv_from_prev, conv_from_start)``
    with null conversions where the denominator step has no users (and
    for step 1's conv_from_prev).
    """
    w = Window.partitionBy("user_id")
    df = events.select("user_id", "event_type", "ts")
    prev_t: F.Column | None = None
    tcols = []
    for i, step in enumerate(steps):
        cond = F.col("event_type") == step
        if prev_t is not None:
            cond = cond & (F.col("ts") >= prev_t)
        tname = f"__t{i}"
        df = df.withColumn(tname, F.min(F.when(cond, F.col("ts"))).over(w))
        prev_t = F.col(tname)
        tcols.append(tname)
    per_user = df.groupBy("user_id").agg(
        *[F.max(t).alias(t) for t in tcols]
    )
    counts = per_user.agg(
        *[F.count(t).cast("bigint").alias(f"__n{i}") for i, t in enumerate(tcols)]
    )
    n = lambda i: F.col(f"__n{i}")  # noqa: E731
    rate = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / F.when(den > 0, den), 6
    )
    rows = [
        F.struct(
            F.lit(i + 1).alias("step"),
            F.lit(step).alias("event_type"),
            n(i).alias("n_users"),
            (
                F.lit(None).cast("double")
                if i == 0
                else rate(n(i), n(i - 1))
            ).alias("conv_from_prev"),
            rate(n(i), n(0)).alias("conv_from_start"),
        )
        for i, step in enumerate(steps)
    ]
    return counts.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort-retention matrix: cohort = the period of a user's first
    event; a cell counts the cohort's distinct users active
    ``period_offset`` periods later. Returns ``(cohort_period,
    period_offset, n_active, cohort_size, retention)``; offset 0 rows
    are the cohort sizes themselves (retention 1.0)."""
    wk = F.expr(f"ts div {WEEK_NS}")
    e = events.select(F.col("user_id").alias("u"), wk.alias("wk"))
    first = e.groupBy("u").agg(F.min("wk").alias("cohort_period"))
    sizes = first.groupBy("cohort_period").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    act = (
        e.join(first, "u")
        .select(
            "u", "cohort_period", (F.col("wk") - F.col("cohort_period")).alias(
                "period_offset"
            )
        )
        .distinct()
        .groupBy("cohort_period", "period_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "cohort_period").select(
        "cohort_period",
        "period_offset",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )
