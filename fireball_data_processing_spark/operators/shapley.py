"""Shapley-value channel attribution — the cooperative-game credit rule
(Shapley 1953) that splits conversion credit by each channel's average
marginal contribution over ALL coalition orders; the order-free,
axiomatically-fair complement to the Markov removal effect
(``operators/markov.py removal_attribution``, which is sequential and
model-based). Marketing-science standard since Dalessandro et al. 2012.

Exactness by boundedness: with k tracked channels there are only 2^k
coalitions, so the characteristic function ``v(S)`` (conversion rate of
users whose pre-conversion channel SET is exactly S) lives at BITMASK
grain — the ``audience_overlap`` bitmask idiom: one bit_or aggregate
per user, one mask-grain rate aggregate, then Shapley's weighted sum
over a k * 2^(k-1)-row LITERAL coalition table joined (broadcast)
against the tiny v table twice. The data-proportional work is the two
per-user aggregates; everything else is constant-size arithmetic.

Missing coalitions (masks no user exhibits) contribute v = 0 — the
standard empirical-game convention, mirrored in the oracle.
"""

from __future__ import annotations

from math import factorial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["shapley_attribution", "coalition_table"]


def coalition_table(k: int) -> list[tuple[int, int, int, float]]:
    """All (channel_index, mask_without, mask_with, weight) rows for
    exact Shapley over ``k`` players: weight = |S|! (k-|S|-1)! / k!."""
    rows = []
    for i in range(k):
        bit = 1 << i
        for mask in range(1 << k):
            if mask & bit:
                continue
            s = bin(mask).count("1")
            w = factorial(s) * factorial(k - s - 1) / factorial(k)
            rows.append((i, mask, mask | bit, round(w, 12)))
    return rows


def shapley_attribution(
    df: DataFrame,
    user_col: str,
    channel_col: str,
    converted: Column,
    channels: list[str],
) -> DataFrame:
    """Exact Shapley conversion credit per channel. ``df`` is one row
    per (user, touched channel) for PRE-conversion touches, restricted
    to the ``channels`` list (fixed bit order = list order);
    ``converted`` is a per-row Column marking whether that user
    converted (constant within user). Returns one row per channel:
    ``(channel, shapley_credit, touched_users)`` ordered by channel;
    credits sum to v(all channels) - v(empty) by Shapley efficiency.
    """
    k = len(channels)
    bit = F.create_map(
        *[
            F.lit(x)
            for pair in ((c, 1 << i) for i, c in enumerate(channels))
            for x in pair
        ]
    )
    per_user = (
        df.select(
            F.col(user_col).alias("u"),
            F.coalesce(bit[F.col(channel_col)], F.lit(0)).alias("__b"),
            F.when(converted, 1.0).otherwise(0.0).alias("__c"),
        )
        .groupBy("u")
        .agg(
            F.bit_or("__b").alias("mask"),
            F.max("__c").alias("conv"),
        )
    )
    # the touched branch used to re-run the events->per-user pipeline
    # at USER grain; it now derives from this 2^k-row table's n_users
    # (touched(ci) = sum of n_users over masks with bit ci set), so
    # every downstream consumer is mask-grain (decide on the small
    # proxy). The v subtree still appears in more than one
    # plan branch, but its two broadcast builds dedupe via exchange
    # reuse and the remaining duplicate is one exchange of <=2^k rows.
    v = per_user.groupBy("mask").agg(
        F.round(F.avg("conv"), 8).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    spark = df.sparkSession
    co = spark.createDataFrame(
        coalition_table(k),
        "ci int, mask_wo bigint, mask_w bigint, w double",
    )
    vn = F.broadcast(v.select("mask", "v"))
    joined = (
        F.broadcast(co)
        .join(vn.withColumnRenamed("mask", "mask_w"), "mask_w", "left")
        .withColumnRenamed("v", "v_with")
        .join(
            vn.withColumnRenamed("mask", "mask_wo"), "mask_wo", "left"
        )
        .withColumnRenamed("v", "v_without")
    )
    credit = joined.groupBy("ci").agg(
        F.round(
            F.sum(
                F.col("w")
                * (
                    F.coalesce(F.col("v_with"), F.lit(0.0))
                    - F.coalesce(F.col("v_without"), F.lit(0.0))
                )
            ),
            8,
        ).alias("credit")
    )
    names = spark.createDataFrame(
        [(i, c, 1 << i) for i, c in enumerate(channels)],
        "ci int, channel string, bitv bigint",
    )
    touched = (
        v.select("mask", "n_users")
        .crossJoin(F.broadcast(names.select("ci", "bitv")))
        .filter(F.col("mask").bitwiseAND(F.col("bitv")) != 0)
        .groupBy("ci")
        .agg(F.sum("n_users").cast("bigint").alias("touched_users"))
    )
    return (
        credit.join(F.broadcast(names.select("ci", "channel")), "ci")
        .join(touched, "ci", "left")
        .select(
            "channel",
            F.round(F.col("credit"), 6).alias("shapley_credit"),
            F.coalesce(F.col("touched_users"), F.lit(0).cast("bigint")).alias(
                "touched_users"
            ),
        )
        .orderBy("channel")
    )
