"""Off-policy evaluation over logged interaction events: importance-
weighted value estimates (IPS / self-normalized IPS) with an effective-
sample-size diagnostic — "what reward WOULD a different routing policy
have earned on this traffic?", answered from logs alone, without
deploying the policy. The counterfactual-eval counterpart of the A/B
readout (``operators/bootstrap.py bootstrap_delta_ci`` needs the
treatment actually served; IPS re-weights what was served).

Standard estimators (Horvitz-Thompson / Swaminathan & Joachims'
self-normalized form):

    IPS   = (1/n) * sum_i w_i * r_i          w_i = pi_t(a_i|x_i) / pi_l(a_i|x_i)
    SNIPS = sum_i w_i * r_i / sum_i w_i      (shift-invariant, lower variance)
    ESS   = (sum w)^2 / sum w^2              (how many "real" samples remain)

Scale design: the logged propensity table is an aggregate (|contexts| x
|actions| rows) built by one partial-combining count; it re-enters the
event scan as a BROADCAST join, so the data-proportional work is one
scan + one aggregate of (w*r, w, w^2) partial sums. Zero collects, zero
windows. Propensities are rounded to ``round_dp`` before weighting so a
SQL oracle replays the estimate exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["dr_value", "empirical_propensities", "snips_value"]


def empirical_propensities(
    df: DataFrame,
    context_col: str,
    action_col: str,
) -> DataFrame:
    """Logged-policy propensity estimates ``pi_l(a|x)`` as empirical
    conditional frequencies: one (context, action) count plus per-
    context totals off a second tiny aggregate, joined broadcast.
    Returns ``(context, action, n, pi_logged)``."""
    counts = (
        df.select(
            F.col(context_col).alias("context"),
            F.col(action_col).alias("action"),
        )
        .groupBy("context", "action")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("context").agg(F.sum("n").alias("tot"))
    return counts.join(F.broadcast(totals), "context").select(
        "context",
        "action",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("n").cast("double") / F.col("tot").cast("double"), 8
        ).alias("pi_logged"),
    )


def snips_value(
    df: DataFrame,
    context_col: str,
    action_col: str,
    reward_col: str,
    target_probs: dict[str, float] | None = None,
) -> DataFrame:
    """IPS and self-normalized IPS estimate of the value a TARGET policy
    would earn on the logged traffic. ``target_probs`` maps action ->
    pi_target(a) (a context-free target; None = uniform over the
    actions observed in the log). Returns ONE row
    ``(n, n_actions, logged_value, ips_value, snips_value, ess)``.

    The propensity table (aggregate-sized) re-enters the scan as a
    broadcast join on (context, action); one final aggregate carries the
    five partial sums. A target action absent from a context's log
    would need w = pi_t/0 — those rows cannot occur (the join is on
    actions that WERE logged), so the estimate is over the logged
    support, the standard IPS caveat."""
    props = F.broadcast(
        empirical_propensities(df, context_col, action_col)
        .drop("n")
    )
    n_actions = props.select("action").distinct()
    if target_probs is None:
        k = n_actions.count()  # |actions|: tiny, known pre-plan by design
        pi_t = F.round(F.lit(1.0) / F.lit(float(k)), 8)
    else:
        mapping = F.create_map(
            *[
                F.lit(v)
                for kv in target_probs.items()
                for v in kv
            ]
        )
        pi_t = F.round(mapping[F.col("action")], 8)
    joined = df.select(
        F.col(context_col).alias("context"),
        F.col(action_col).alias("action"),
        F.col(reward_col).cast("double").alias("r"),
    ).join(props, ["context", "action"])
    w = pi_t / F.col("pi_logged")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("r"), 8).alias("logged_value"),
        F.round(F.sum(w * F.col("r")), 8).alias("swr"),
        F.round(F.sum(w), 8).alias("sw"),
        F.round(F.sum(w * w), 8).alias("sww"),
    )
    n_act = F.broadcast(
        n_actions.agg(F.count(F.lit(1)).cast("bigint").alias("n_actions"))
    )
    return agg.crossJoin(n_act).select(
        "n",
        "n_actions",
        F.round(F.col("logged_value"), 6).alias("logged_value"),
        F.round(F.col("swr") / F.col("n"), 6).alias("ips_value"),
        F.round(F.col("swr") / F.col("sw"), 6).alias("snips_value"),
        F.round(
            F.col("sw") * F.col("sw") / F.col("sww"), 6
        ).alias("ess"),
    )


def dr_value(
    df: DataFrame,
    context_col: str,
    action_col: str,
    reward_col: str,
    target_probs: dict[str, float],
) -> DataFrame:
    """Doubly-robust off-policy value (Dudik, Langford & Li 2011): the
    direct-method baseline plus an importance-weighted residual
    correction,

        V_DR = (1/n) * sum_i [ sum_a pi_t(a) * q(x_i, a)
                               + w_i * (r_i - q(x_i, a_i)) ]

    with ``q(x, a)`` the empirical mean logged reward per (context,
    action). Unbiased if EITHER the reward model or the propensities
    are right — the variance of raw IPS with the bias-resistance the
    direct method lacks. Returns ONE row
    ``(n, dm_value, ips_value, dr_value)``.

    Both model tables (propensities, reward means) are aggregate-sized
    and re-enter the scan as broadcast joins; the per-context direct-
    method term ``sum_a pi_t(a) q(x, a)`` is itself one tiny aggregate
    of the reward table. One final four-sum pass; zero collects."""
    props = empirical_propensities(df, context_col, action_col)
    base = df.select(
        F.col(context_col).alias("context"),
        F.col(action_col).alias("action"),
        F.col(reward_col).cast("double").alias("r"),
    )
    qhat = base.groupBy("context", "action").agg(
        F.round(F.avg("r"), 8).alias("q")
    )
    mapping = F.create_map(
        *[F.lit(v) for kv in target_probs.items() for v in kv]
    )
    pi_t = F.round(mapping[F.col("action")], 8)
    # direct-method term per context: sum_a pi_t(a) * q(x, a) over the
    # LOGGED actions of that context (unlogged actions have no q —
    # standard DM-on-logged-support caveat, same as snips_value)
    dm = qhat.groupBy("context").agg(
        F.round(F.sum(pi_t * F.col("q")), 8).alias("dm_term")
    )
    joined = (
        base.join(F.broadcast(props.drop("n")), ["context", "action"])
        .join(F.broadcast(qhat), ["context", "action"])
        .join(F.broadcast(dm), "context")
    )
    w = pi_t / F.col("pi_logged")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("dm_term"), 8).alias("sdm"),
        F.round(F.sum(w * F.col("r")), 8).alias("swr"),
        F.round(
            F.sum(F.col("dm_term") + w * (F.col("r") - F.col("q"))),
            8,
        ).alias("sdr"),
    )
    return agg.select(
        "n",
        F.round(F.col("sdm") / F.col("n"), 6).alias("dm_value"),
        F.round(F.col("swr") / F.col("n"), 6).alias("ips_value"),
        F.round(F.col("sdr") / F.col("n"), 6).alias("dr_value"),
    )
