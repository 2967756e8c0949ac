"""A21: inter-rater agreement statistics.

The reference computes pairwise Cohen's kappa / Kendall's tau /
Krippendorff's alpha over raters with overlapping question sets
(``human_eval/results_analysis.py:107-178``). Spark shape: self-join
ratings on the question key to materialize rater pairs, then one
``applyInPandas`` per pair computing the statistic (numpy only — no scipy
dependency). Pairs are tiny; the join is the distributed part.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cohen_kappa(a: np.ndarray, b: np.ndarray) -> float:
    """Cohen's kappa for two equal-length label vectors."""
    cats = np.unique(np.concatenate([a, b]))
    n = len(a)
    if n == 0:
        return float("nan")
    po = float(np.mean(a == b))
    pe = 0.0
    for c in cats:
        pe += (np.mean(a == c)) * (np.mean(b == c))
    if pe == 1.0:
        return 1.0
    return (po - pe) / (1.0 - pe)


def pairwise_kappa(ratings: DataFrame) -> DataFrame:
    """Kappa for every rater pair over their co-rated items."""
    a = ratings.select(
        F.col("rater").alias("rater_a"),
        F.col("item"),
        F.col("label").alias("label_a"),
    )
    b = ratings.select(
        F.col("rater").alias("rater_b"),
        F.col("item"),
        F.col("label").alias("label_b"),
    )
    pairs = a.join(b, "item").filter(F.col("rater_a") < F.col("rater_b"))

    def kappa_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        k = cohen_kappa(pdf["label_a"].to_numpy(), pdf["label_b"].to_numpy())
        return pd.DataFrame(
            {
                "rater_a": [pdf["rater_a"].iloc[0]],
                "rater_b": [pdf["rater_b"].iloc[0]],
                "n_items": [len(pdf)],
                "kappa": [round(float(k), 6)],
            }
        )

    return pairs.groupBy("rater_a", "rater_b").applyInPandas(
        kappa_fn, schema="rater_a string, rater_b string, n_items bigint, kappa double"
    )


def krippendorff_alpha_nominal(ratings: DataFrame) -> DataFrame:
    """Krippendorff's alpha, nominal data — the third statistic of the
    reference's agreement suite (``human_eval/results_analysis.py``
    computes kappa, tau, AND alpha) and the one that handles what kappa
    can't: ANY number of raters per item, with missing ratings, in one
    coefficient. Canonical count form (Krippendorff 2011):

        alpha = 1 - (N - 1) * sum_u sum_c n_uc (n_u - n_uc) / (n_u - 1)
                    / sum_c n_c (N - n_c)

    over PAIRABLE items only (n_u >= 2 ratings; singleton items carry
    no agreement evidence), where n_uc counts item u's ratings in
    category c, n_u = sum_c n_uc, n_c the category total and N the
    grand total.

    Unlike the reference's pandas loop (and this module's pairwise
    ``applyInPandas`` statistics), this is a PURE DataFrame aggregate —
    two groupBys over the (item, label) count frame plus
    one-row-broadcast totals; no rater self-join, no Python — so it
    runs at corpus scale and replays exactly in SQL (the query's DuckDB
    oracle). Output one row: ``(n_items, n_ratings, alpha)``; alpha is
    NULL when expected disagreement is zero (every pairable rating in
    one category — undefined by construction)."""
    iu = (
        ratings.groupBy(
            F.col("item").alias("__item"), F.col("label").alias("__label")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__nuc"))
    )
    w_item = Window.partitionBy("__item")
    per = iu.withColumn("__nu", F.sum("__nuc").over(w_item)).filter(
        F.col("__nu") >= 2
    )
    do_terms = per.select(
        "__item",
        "__nu",
        (F.col("__nuc") * (F.col("__nu") - F.col("__nuc"))
         / (F.col("__nu") - 1)).alias("__d"),
    )
    totals = per.groupBy("__label").agg(F.sum("__nuc").alias("__nc"))
    grand = totals.agg(
        F.sum("__nc").alias("__N"),
        F.count(F.lit(1)).alias("__ncat"),
    )
    de = (
        totals.crossJoin(F.broadcast(grand))
        .agg(
            F.sum(F.col("__nc") * (F.col("__N") - F.col("__nc"))).alias("__de"),
            F.first("__N").alias("__N"),
        )
    )
    do = do_terms.agg(
        F.sum("__d").alias("__do"),
        F.countDistinct("__item").cast("bigint").alias("n_items"),
    )
    alpha = F.when(
        F.col("__de") > 0,
        F.round(
            F.lit(1.0)
            - (F.col("__N") - 1) * F.col("__do") / F.col("__de"),
            6,
        ),
    )
    return (
        do.crossJoin(F.broadcast(de))
        .select(
            "n_items",
            F.col("__N").cast("bigint").alias("n_ratings"),
            alpha.alias("alpha"),
        )
    )


def pairwise_kendall_tau(
    ratings: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """Pairwise Kendall's tau-b — the second statistic of the
    reference's agreement suite (``results_analysis.py:141-152`` calls
    ``scipy.stats.kendalltau``, which computes tau-b): for every rater
    pair, over their co-rated items,

        tau_b = (C - D) / sqrt((n0 - t_x)(n0 - t_y))

    with C/D the concordant/discordant item pairs, n0 = all item
    pairs, and t_x/t_y the pairs tied within each rater — the
    tie-corrected form scipy returns, so parity with the reference is
    exact (test-pinned against a literal O(n²) replay).

    Distributed shape: the co-rating join is the :func:`pairwise_kappa`
    precedent (items are eval-sized by contract); the item-pair
    self-join within each rater pair is the O(n²) the statistic
    inherently needs — it stays inside the pair's partition and every
    count is a JVM aggregate (no scipy, no Python), so the whole thing
    is SQL-replayable (DuckDB oracle) unlike a library call. Ratings
    are compared exactly — round ``value_col`` upstream if it carries
    float noise. Output: ``(rater_a, rater_b, n_items, tau)``; tau is
    NULL when either rater's ratings are all tied (denominator zero)."""
    a = ratings.select(
        F.col("rater").alias("rater_a"),
        F.col("item"),
        F.col(value_col).alias("__va"),
    )
    b = ratings.select(
        F.col("rater").alias("rater_b"),
        F.col("item"),
        F.col(value_col).alias("__vb"),
    )
    co = a.join(b, "item").filter(F.col("rater_a") < F.col("rater_b"))
    n_items = co.groupBy("rater_a", "rater_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items")
    )
    i = co.select(
        "rater_a", "rater_b",
        F.col("item").alias("__ii"),
        F.col("__va").alias("__xai"), F.col("__vb").alias("__xbi"),
    )
    j = co.select(
        "rater_a", "rater_b",
        F.col("item").alias("__ij"),
        F.col("__va").alias("__xaj"), F.col("__vb").alias("__xbj"),
    )
    p = i.join(j, ["rater_a", "rater_b"]).filter(
        F.col("__ii") < F.col("__ij")
    )
    dx = F.col("__xai") - F.col("__xaj")
    dy = F.col("__xbi") - F.col("__xbj")
    stats = p.groupBy("rater_a", "rater_b").agg(
        F.count(F.lit(1)).cast("double").alias("__n0"),
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("double").alias("__c"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("double").alias("__d"),
        F.sum(F.when(dx == 0, 1).otherwise(0)).cast("double").alias("__tx"),
        F.sum(F.when(dy == 0, 1).otherwise(0)).cast("double").alias("__ty"),
    )
    denom = F.sqrt(
        (F.col("__n0") - F.col("__tx")) * (F.col("__n0") - F.col("__ty"))
    )
    tau = F.when(
        denom > 0,
        F.round((F.col("__c") - F.col("__d")) / denom, 6),
    )
    return stats.join(n_items, ["rater_a", "rater_b"]).select(
        "rater_a", "rater_b", "n_items", tau.alias("tau")
    )


_BETA = 0.01


def dawid_skene(
    ratings: DataFrame,
    labels: list[str],
    n_iter: int = 2,
) -> DataFrame:
    """Dawid-Skene (1979) EM label aggregation: infer each item's true
    label from redundant noisy ``(item, rater, label)`` annotations by
    jointly estimating
    per-rater confusion matrices — the aggregation step the pairwise
    agreement statistics above diagnose but don't perform. Majority vote
    weights every rater equally; Dawid-Skene learns who to trust, per
    confusion cell.

    Fully distributed, ZERO driver collects (unlike kmeans_fit's bounded
    centroid collect, even the model state stays in DataFrames): per EM
    round the big frames are the per-(item, rater, label) count table
    and the items x K posterior table, both partitioned by item; the
    model (class priors p(c): K rows; confusion pi(r, c, l): R*K*K rows)
    is aggregated small and re-enters the E-step as broadcast joins.
    Shuffles per round: one item-keyed join + one (rater, c, l)
    aggregate + one (item, c) aggregate — all partial-combining.

    Cross-engine reproducibility (the kmeans contract, applied to EM):
    every aggregated quantity — initial vote shares, priors, confusion
    cells, summed log-posteriors, normalized posteriors — is ROUNDED to
    8 dp before downstream use, absorbing summation-order float
    noise each round, so an unrolled SQL oracle replays the iterations.
    ``_BETA`` is additive smoothing (K-ary Laplace) keeping every
    ln() argument positive. E-step works in log space with a
    max-subtracted softmax, so vote multiplicities never underflow.

    Returns ``(item, map_label, posterior)``: the MAP label (posterior
    ties break to label-lexicographic order) and its posterior exactly as
    the last E-step rounded it. It is not rounded again: a second, coarser
    round of an 8-dp value is a decimal tie one time in a hundred,
    and engines break a tie on a double differently (Spark rounds the
    shortest decimal form half-up, DuckDB the binary value).
    """
    K = len(labels)
    lab_arr = F.array(*[F.lit(x) for x in labels])
    # PERSIST the sufficient statistic: counts feeds 2+2*n_iter consumers
    # (itot, votes, and the M/E steps of every round) — unpinned, each
    # consumer re-plans the raw-ratings aggregation subtree and the
    # static plan explodes combinatorially across iterations (measured
    # 92 scans / 274 exchanges at n_iter=2 before the pin). The cache is
    # (items x raters x labels)-bounded, far below the ratings it folds.
    counts = (
        # the self-aliases are part of the plan the oracle parity and the
        # benchmark were measured on; dropping them removes a Project
        ratings.groupBy(
            F.col("item").alias("item"),
            F.col("rater").alias("rater"),
            F.col("label").alias("label"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        # hash-partition the pin on "item" — the
        # key every per-round consumer clusters by (the itot/votes
        # groupBys, each round's E-step join and (item, c) aggregate) —
        # so AQE's runtime re-optimization can elide those consumers'
        # exchanges against the cache's known partitioning. Interleaved
        # A/B (with the same treatment on the posterior pins below):
        # dawid_skene_labels 6.93 -> 4.80 s min-of-4, every pair better.
        .repartition(F.col("item"))
        .persist()
    )
    itot = counts.groupBy("item").agg(F.sum("n").alias("ni"))
    votes = counts.groupBy("item", F.col("label").alias("c")).agg(
        F.sum("n").alias("v")
    )
    # each round's posterior table is likewise multi-consumed (priors +
    # M-step num, then the NEXT round's lineage) — persist per round so
    # iteration t's plan doesn't embed t-1's whole subtree twice
    t = (
        itot.select("item", "ni", F.explode(lab_arr).alias("c"))
        .join(votes, ["item", "c"], "left")
        .select(
            "item",
            "c",
            F.round(
                F.coalesce(F.col("v"), F.lit(0.0)) / F.col("ni"), 8
            ).alias("t"),
        )
        # item-partitioned like `counts` (same rationale): the M-step
        # join and the next round's lineage consume it item-keyed
        .repartition(F.col("item"))
        .persist()
    )
    nitems = itot.agg(F.count(F.lit(1)).cast("double").alias("n_items"))
    raters = counts.select("rater").distinct()
    grid = (
        raters.crossJoin(F.broadcast(nitems.select(F.explode(lab_arr).alias("c"))))
        .crossJoin(
            F.broadcast(nitems.select(F.explode(lab_arr).alias("l")))
        )
        .select("rater", "c", "l")
    )
    for _ in range(n_iter):
        priors = (
            t.groupBy("c")
            .agg(F.sum("t").alias("__st"))
            .crossJoin(F.broadcast(nitems))
            .select(
                "c",
                F.round(
                    (F.col("__st") + F.lit(_BETA))
                    / (F.col("n_items") + F.lit(K * _BETA)),
                    8,
                ).alias("p"),
            )
        )
        num = (
            counts.join(t, "item")
            .groupBy("rater", "c", F.col("label").alias("l"))
            .agg(F.sum(F.col("t") * F.col("n")).alias("num"))
        )
        den = num.groupBy("rater", "c").agg(F.sum("num").alias("den"))
        pi = (
            grid.join(num, ["rater", "c", "l"], "left")
            .join(den, ["rater", "c"], "left")
            .select(
                "rater",
                "c",
                "l",
                F.round(
                    (F.coalesce(F.col("num"), F.lit(0.0)) + F.lit(_BETA))
                    / (F.coalesce(F.col("den"), F.lit(0.0)) + F.lit(K * _BETA)),
                    8,
                ).alias("pi"),
            )
        )
        lp = (
            counts.join(
                F.broadcast(pi),
                (counts["rater"] == pi["rater"]) & (counts["label"] == pi["l"]),
            )
            .join(F.broadcast(priors), "c")
            .groupBy("item", "c")
            .agg(
                F.round(
                    F.log(F.max("p")) + F.sum(F.col("n") * F.log("pi")),
                    8,
                ).alias("lp")
            )
        )
        w_item = Window.partitionBy("item")
        t = lp.select(
            "item",
            "c",
            F.round(
                F.exp(F.col("lp") - F.max("lp").over(w_item))
                / F.sum(F.exp(F.col("lp") - F.max("lp").over(w_item))).over(
                    w_item
                ),
                8,
            ).alias("t"),
        ).repartition(F.col("item")).persist()
    w_rank = Window.partitionBy("item").orderBy(
        F.col("t").desc(), F.col("c").asc()
    )
    return (
        t.withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") == 1)
        .select(
            "item",
            F.col("c").alias("map_label"),
            F.col("t").alias("posterior"),
        )
    )


def item_disagreement(ratings: DataFrame) -> DataFrame:
    """Per-item annotator-disagreement profile: vote entropy (bits),
    entropy normalized by log2(n_labels_on_item), and the majority
    share — the ranking that says WHICH items the panel is confused
    about, where kappa/alpha/tau (corpus-level) and dawid_skene
    (posterior per item, but opaque about raw conflict) don't directly
    answer. High normalized entropy + low majority share = route to
    adjudication.

    One (item, label) count, one (item) aggregate — both partial-
    combining; entropy terms are per-(item,label) expressions summed in
    the second aggregate. Returns ``(item, n_votes, n_labels,
    majority_share, entropy_bits, norm_entropy)``.
    """
    from pyspark.sql import functions as F

    counts = (
        ratings.select(
            F.col("item"), F.col("label")
        )
        .groupBy("item", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = Window.partitionBy("item")
    p = F.col("c").cast("double") / F.sum("c").over(tot)
    terms = counts.select(
        "item",
        F.col("c"),
        F.sum("c").over(tot).alias("n_votes"),
        (-p * F.log2(p)).alias("h_term"),
    )
    return (
        terms.groupBy("item")
        .agg(
            F.max("n_votes").cast("bigint").alias("n_votes"),
            F.count(F.lit(1)).cast("bigint").alias("n_labels"),
            F.round(
                F.max("c").cast("double")
                / F.max("n_votes").cast("double"),
                6,
            ).alias("majority_share"),
            F.round(F.sum("h_term"), 6).alias("entropy_bits"),
            F.round(
                F.when(
                    F.count(F.lit(1)) > 1,
                    F.sum("h_term") / F.log2(F.count(F.lit(1)).cast("double")),
                ).otherwise(0.0),
                6,
            ).alias("norm_entropy"),
        )
    )
