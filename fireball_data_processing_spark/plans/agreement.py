"""A21: inter-rater agreement statistics.

The reference computes pairwise Cohen's kappa / Kendall's tau /
Krippendorff's alpha over raters with overlapping question sets
(``human_eval/results_analysis.py:107-178``). Kappa is the
``agreement_kappa`` query's plan in ``queries.py``; this module holds
alpha, tau, the per-item disagreement profile and Dawid-Skene EM.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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

    Unlike the reference's pandas loop, this is a PURE DataFrame aggregate —
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

    Distributed shape: the co-rating join is the ``agreement_kappa``
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
#: EM rounds; the query and its unrolled oracle both run this many
_EM_ROUNDS = 2


def dawid_skene(ratings: DataFrame, labels: Sequence[str]) -> DataFrame:
    """Dawid-Skene (1979) EM label aggregation: infer each item's true
    label from redundant noisy ``(item, rater, label)`` annotations by
    jointly estimating per-rater confusion matrices — the aggregation
    step the pairwise agreement statistics above diagnose but don't
    perform. Majority vote weights every rater equally; Dawid-Skene
    learns who to trust, per confusion cell. Runs ``_EM_ROUNDS`` rounds
    with zero driver collects: the model state stays in DataFrames.

    Plan. The ``(item, rater, label, n)`` count table, bounded by items x
    raters x labels, is built once and pinned as a local checkpoint:
    the one persisted RDD a call leaves, which Spark's context cleaner
    releases once the returned frame is garbage-collected. The checkpoint
    is eager, run when ``dawid_skene`` is called: a lazy one runs
    after the frame that planned it is gone, so its SQL metrics are
    already released and each task logs an accumulator error. A
    checkpoint scan reports no partitioning, so the pin is read back through
    ``coalesce(1)``, which declares a single partition: every aggregate
    and window over it (keyed by item, (item, c), (rater, c) or c) then
    plans no exchange. Initial posteriors are one per-item aggregate with
    one vote sum per label. Each round is then
    - priors p(c): a window over c on the posterior rows, which also
      carry the item count, so neither needs an aggregate of its own;
    - M-step: counts joined to the posteriors, one ``(rater, c)``
      aggregate giving pi as a K-array over ``labels`` (plus p). Its
      denominator sums t*n over every label the counts hold, labels
      outside ``labels`` included, as the oracle's ``den`` sums every
      ``num``;
    - E-step: the votes in ``labels`` join pi by broadcast, reading it at
      the vote's label with ``element_at``, then an ``(item, c)``
      aggregate and the softmax window.
    A round runs two broadcasts (the posteriors into the M-step, pi into
    the E-step) and no shuffle; with the checkpoint's two jobs (the
    counts' shuffle and the pin) and the result, a two-round call runs 7.

    There is no R*K*K confusion grid: the oracle left-joins every
    (rater, c, l) cell to fill unseen cells with the smoothing alone, but
    the E-step only reads pi at (rater, label) pairs the counts hold, and
    those always have a vote sum.

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
    shortest decimal form half-up, DuckDB the binary value). An item
    with no vote in ``labels`` drops out after the first round, as in
    the oracle.
    """
    K = len(labels)
    counts = (
        ratings.groupBy("item", "rater", "label")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .localCheckpoint()
        .coalesce(1)
    )
    n, t, label = F.col("n"), F.col("t"), F.col("label")
    w_item, w_c = Window.partitionBy("item"), Window.partitionBy("c")
    shares = counts.groupBy("item").agg(
        F.array(*[
            F.struct(
                F.lit(x).alias("c"),
                F.round(
                    F.coalesce(F.sum(F.when(label == x, n)), F.lit(0.0)) / F.sum(n),
                    8,
                ).alias("t"),
            )
            for x in labels
        ]).alias("__t0")
    )
    # the item count rides every posterior row; t0 has one row per (item, c)
    post = shares.select("item", F.inline("__t0")).withColumn(
        "n_items", F.count(F.lit(1)).over(w_c).cast("double")
    )
    voted = counts.filter(label.isin(*labels))
    # built once, outside the loop: each column expression costs py4j calls
    prior = F.round(
        (F.sum(t).over(w_c) + F.lit(_BETA)) / (F.col("n_items") + F.lit(K * _BETA)),
        8,
    ).alias("p")
    tn = t * n
    den = F.sum(tn) + F.lit(K * _BETA)
    m_step = [
        F.array(*[
            F.round((F.sum(F.when(label == x, tn)) + F.lit(_BETA)) / den, 8)
            for x in labels
        ]).alias("pi"),
        F.max("p").alias("p"),
        F.max("n_items").alias("n_items"),
    ]
    pi_at_label = F.element_at(
        "pi", F.array_position(F.array(*[F.lit(x) for x in labels]), label).cast("int")
    )
    e_step = [
        F.round(F.log(F.max("p")) + F.sum(n * F.log(pi_at_label)), 8).alias("lp"),
        F.max("n_items").alias("n_items"),
    ]
    shifted = F.exp(F.col("lp") - F.max("lp").over(w_item))
    softmax = F.round(shifted / F.sum(shifted).over(w_item), 8).alias("t")
    for _ in range(_EM_ROUNDS):
        pi = (
            counts.join(post.select("item", "c", "t", "n_items", prior), "item")
            .groupBy("rater", "c")
            .agg(*m_step)
        )
        post = (
            voted.join(F.broadcast(pi), "rater")
            .groupBy("item", "c")
            .agg(*e_step)
            .select("item", "c", softmax, "n_items")
        )
    w_rank = Window.partitionBy("item").orderBy(
        F.col("t").desc(), F.col("c").asc()
    )
    return (
        post.withColumn("__rn", F.row_number().over(w_rank))
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
