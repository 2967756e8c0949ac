"""Sequential hypothesis testing over ordered event streams: Wald's
SPRT (sequential probability ratio test) per group — "how early in the
traffic could this decision have been called?", the sequential
complement to the fixed-horizon readouts (``bootstrap_delta_ci`` needs
all n; SPRT stops itself).

For a Bernoulli stream testing H0: p = p0 vs H1: p = p1, the
log-likelihood ratio after the k-th observation is

    LLR_k = n1_k * ln(p1/p0) + n0_k * ln((1-p1)/(1-p0))

(n1/n0 = successes/failures so far), and Wald's boundaries with error
rates (alpha, beta) are ``upper = ln((1-beta)/alpha)`` (accept H1) and
``lower = ln(beta/(1-alpha))`` (accept H0). The decision is the FIRST
boundary crossing in stream order.

Scale design: the cumulative counts are one window over the per-group
hash exchange — grouped sequential tests parallelize across groups
(a GLOBAL sequential test would serialize onto one task; callers
wanting one stream should shard it into group-level tests and combine).
The LLR is reconstructed from integer cumulative counts times 8-dp
rounded per-observation terms, so both engines walk identical doubles
and the crossing index is engine-exact. One window + one aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["sprt_decisions", "sprt_crossings"]


def sprt_decisions(
    df: DataFrame,
    group_col: str,
    order_col: str,
    success: Column,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Per-group SPRT decision summary. ``success`` is a boolean Column
    evaluated per row. Returns one row per group:
    ``(group, decision, n_at_decision, llr_at_decision, n_total,
    llr_final)`` where decision is 'accept_h1' / 'accept_h0' /
    'continue' (no crossing within the observed stream); for 'continue'
    the *_at_decision fields are NULL. Ordered by group."""
    x = F.when(success, 1).otherwise(0)
    w = Window.partitionBy("group").orderBy("__o")
    walked = df.select(
        F.col(group_col).alias("group"),
        F.col(order_col).alias("__o"),
        x.alias("__x"),
    ).select(
        "group",
        "__o",
        F.row_number().over(w).alias("__k"),
        F.sum("__x").over(w).alias("__n1"),
    )
    agg = sprt_crossings(walked, [], p0, p1, alpha, beta)
    return agg.select(
        "group",
        F.coalesce(F.col("__first.__cross"), F.lit("continue")).alias(
            "decision"
        ),
        F.col("__first.__k").cast("bigint").alias("n_at_decision"),
        F.round(F.col("__first.__llr"), 6).alias("llr_at_decision"),
        "n_total",
        F.round(F.col("__last.__llr"), 6).alias("llr_final"),
    ).orderBy("group")


def sprt_crossings(
    walked: DataFrame,
    keys: list[str],
    p0: float,
    p1: float,
    alpha: float,
    beta: float,
) -> DataFrame:
    """The SPRT walk over cumulative counts: ``walked`` holds ``group``,
    the ``keys`` that order it, trials so far ``__k`` and successes so
    far ``__n1``. Returns one row per group: ``__first``, the
    ``(*keys, __k, __llr, __cross)`` struct of the first boundary
    crossing (NULL if none), ``n_total`` and ``__last``, the
    ``(*keys, __k, __llr)`` struct of the final row. The LLR is built
    from 8-dp rounded per-observation constants, so every engine walks
    identical doubles."""
    l1 = round(math.log(p1 / p0), 8)
    l0 = round(math.log((1.0 - p1) / (1.0 - p0)), 8)
    upper = round(math.log((1.0 - beta) / alpha), 8)
    lower = round(math.log(beta / (1.0 - alpha)), 8)
    llr = F.round(
        F.col("__n1") * F.lit(l1)
        + (F.col("__k") - F.col("__n1")) * F.lit(l0),
        8,
    )
    scored = walked.select(
        "group",
        *keys,
        "__k",
        llr.alias("__llr"),
        F.when(llr >= F.lit(upper), F.lit("accept_h1"))
        .when(llr <= F.lit(lower), F.lit("accept_h0"))
        .alias("__cross"),
    )
    return scored.groupBy("group").agg(
        F.min(
            F.when(
                F.col("__cross").isNotNull(),
                F.struct(*[F.col(c) for c in (*keys, "__k", "__llr", "__cross")]),
            )
        ).alias("__first"),
        F.max("__k").cast("bigint").alias("n_total"),
        F.max(F.struct(*[F.col(c) for c in (*keys, "__k", "__llr")])).alias(
            "__last"
        ),
    )
