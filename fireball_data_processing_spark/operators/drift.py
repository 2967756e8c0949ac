"""Distribution-drift monitoring between corpus snapshots.

When a corpus is re-ingested or extended (see :mod:`.snapshots` for the
row-level diff), the pipeline needs a DISTRIBUTION-level answer too:
did the composition shift — language mix, source mix, length profile,
quality bands? The standard scorecards are population stability index
(PSI, the banking-world drift metric: ``sum((p-q) * ln(p/q))``) and
KL divergence, computed per category bucket.

Scale design: each side is reduced to an aggregate-sized (bucket,
count) table in one pass; the merge is a full outer join of two
aggregates; shares and totals ride windows over the merged frame (no
join-back re-planning of the aggregation subtrees). Add-one smoothing
keeps empty buckets defined, so appearing/disappearing categories
contribute large-but-finite drift instead of infinities.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "acf_profile",
    "bucket_shares",
    "cusum_alarm",
    "distribution_drift",
    "ewma_chart",
    "jsd_matrix",
    "theil_sen",
]


def bucket_shares(df: DataFrame, bucket: Column) -> DataFrame:
    """(bucket, n) counts of ``bucket`` over ``df`` — one aggregation."""
    return df.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def distribution_drift(
    before: DataFrame,
    after: DataFrame,
    bucket: Column,
) -> DataFrame:
    """Per-bucket drift contributions between two snapshots, plus the
    smoothed shares they derive from.

    Returns (bucket, n_before, n_after, p_before, p_after, psi_term,
    kl_term) with shares add-one smoothed over the union bucket set and
    rounded to 6 decimals; total PSI/KL = sum of the term columns.
    PSI reading (industry rule of thumb): < 0.1 stable, 0.1-0.25 watch,
    > 0.25 shifted.
    """
    b = bucket_shares(before, bucket).withColumnRenamed("n", "n_before")
    a = bucket_shares(after, bucket).withColumnRenamed("n", "n_after")
    # null-safe join key: a NULL bucket (missing source/lang) is a real
    # category — an equi-join would never match the two NULL rows and
    # split them into two half-counted buckets, inflating the bucket
    # count and skewing every share
    merged = b.join(
        a, b["bucket"].eqNullSafe(a["bucket"]), "full"
    ).select(
        F.coalesce(b["bucket"], a["bucket"]).alias("bucket"),
        F.coalesce("n_before", F.lit(0)).alias("n_before"),
        F.coalesce("n_after", F.lit(0)).alias("n_after"),
    )
    w_all = Window.partitionBy()
    n_buckets = F.count(F.lit(1)).over(w_all)
    p = (F.col("n_before") + 1) / (F.sum("n_before").over(w_all) + n_buckets)
    q = (F.col("n_after") + 1) / (F.sum("n_after").over(w_all) + n_buckets)
    return merged.select(
        "bucket",
        "n_before",
        "n_after",
        F.round(p, 6).alias("p_before"),
        F.round(q, 6).alias("p_after"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        F.round(p * F.log(p / q), 6).alias("kl_term"),
    )


def jsd_matrix(df: DataFrame, domain_col: str, token_col: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between the per-domain
    unigram distributions of ``token_col`` — the k-way corpus-composition
    scorecard ("which domains are token-level redundant, which add
    genuinely new text?") that PSI/KL drift (two snapshots, category
    buckets) doesn't give: JSD is symmetric, bounded in [0, 1] bits, and
    defined WITHOUT smoothing even on disjoint vocabularies.

    Union-free decomposition: with m = (p+q)/2, tokens private to one
    side contribute exactly ``0.5 * p_i`` bits, so

        JSD(P,Q) = 0.5*(|P| - sum_shared p) + 0.5*(|Q| - sum_shared q)
                 + sum_shared [0.5*p*log2(2p/(p+q)) + 0.5*q*log2(2q/(p+q))]

    needs only an INNER self-join on token — never a full-outer union
    frame per pair. |P| is the sum of the rounded probabilities (not a
    literal 1.0), so the only-mass term is engine-exact.

    Plan shape: one explode + one (domain, token) aggregate over the
    data; the self-join and everything after run on the per-domain
    vocabulary table (aggregate-sized). The k^2 pair frame is built from
    the broadcast domain list, so pairs with zero shared tokens still
    appear (JSD = 1 bit exactly). Returns
    ``(domain_a, domain_b, n_shared_tokens, jsd_bits)`` for a < b,
    ordered.
    """
    counts = (
        df.select(F.col(domain_col).alias("d"), F.col(token_col).alias("t"))
        .groupBy("d", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("d").agg(F.sum("n").alias("tot"))
    probs = counts.join(F.broadcast(totals), "d").select(
        "d",
        "t",
        F.round(F.col("n").cast("double") / F.col("tot"), 8).alias(
            "p"
        ),
    )
    mass = probs.groupBy("d").agg(F.round(F.sum("p"), 8).alias("mass"))
    a = probs.select(
        F.col("d").alias("domain_a"), "t", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("d").alias("domain_b"), "t", F.col("p").alias("pb")
    )
    half = F.lit(0.5)
    shared = (
        a.join(b, "t")
        .filter(F.col("domain_a") < F.col("domain_b"))
        .groupBy("domain_a", "domain_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_tokens"),
            F.round(F.sum("pa"), 8).alias("sp"),
            F.round(F.sum("pb"), 8).alias("sq"),
            F.round(
                F.sum(
                    half
                    * F.col("pa")
                    * F.log2(
                        F.lit(2.0) * F.col("pa")
                        / (F.col("pa") + F.col("pb"))
                    )
                    + half
                    * F.col("pb")
                    * F.log2(
                        F.lit(2.0) * F.col("pb")
                        / (F.col("pa") + F.col("pb"))
                    )
                ),
                8,
            ).alias("shared_term"),
        )
    )
    doms = mass.select(F.col("d").alias("domain_a"), F.col("mass").alias("ma"))
    domsb = mass.select(
        F.col("d").alias("domain_b"), F.col("mass").alias("mb")
    )
    pairs = (
        F.broadcast(doms)
        .crossJoin(F.broadcast(domsb))
        .filter(F.col("domain_a") < F.col("domain_b"))
    )
    return (
        pairs.join(shared, ["domain_a", "domain_b"], "left")
        .select(
            "domain_a",
            "domain_b",
            F.coalesce(F.col("n_shared_tokens"), F.lit(0).cast("bigint")).alias(
                "n_shared_tokens"
            ),
            F.round(
                half * (F.col("ma") - F.coalesce(F.col("sp"), F.lit(0.0)))
                + half * (F.col("mb") - F.coalesce(F.col("sq"), F.lit(0.0)))
                + F.coalesce(F.col("shared_term"), F.lit(0.0)),
                6,
            ).alias("jsd_bits"),
        )
        .orderBy("domain_a", "domain_b")
    )


def cusum_alarm(
    series: DataFrame,
    time_col: str,
    value_col: str,
    target: float,
    allowance: float,
    threshold: float,
) -> DataFrame:
    """One-sided (upward) CUSUM control chart over an ordered series —
    the change-point monitor that accumulates SMALL persistent shifts a
    per-point outlier rule (mad_outlier_stats) never trips:
    ``S_t = max(0, S_{t-1} + (x_t - target - allowance))``, alarm when
    ``S_t > threshold``.

    The clamped recursion is NOT a plain cumulative sum, but it has a
    closed window form: with ``C_t = cumsum(x - target - allowance)``,

        S_t = C_t - min(0, running_min(C_t))

    so the whole chart is TWO windows over the (already aggregated,
    time-grain) series — no recursion, no UDF, no state. Returns
    ``(time, x, cusum, alarm)`` ordered by time, x and cusum at 6 dp;
    per-step terms are rounded to 8 dp so a SQL oracle replays the walk
    exactly.
    """
    from pyspark.sql.window import Window

    drift_rate = F.lit(float(target) + float(allowance))
    w = Window.orderBy(time_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = F.round(
        F.sum(
            F.round(F.col(value_col).cast("double") - drift_rate, 8)
        ).over(w),
        8,
    )
    staged = series.select(
        F.col(time_col).alias("time"),
        F.round(F.col(value_col).cast("double"), 6).alias("x"),
        c.alias("__c"),
    )
    w2 = Window.orderBy("time").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = F.round(
        F.col("__c")
        - F.least(F.lit(0.0), F.min("__c").over(w2)),
        8,
    )
    return staged.select(
        "time",
        "x",
        F.round(s, 6).alias("cusum"),
        (s > F.lit(float(threshold))).alias("alarm"),
    ).orderBy("time")


def ewma_chart(
    series: DataFrame,
    time_col: str,
    value_col: str,
    mu0: float,
    sigma0: float,
    lam: float = 0.2,
    width: float = 3.0,
) -> DataFrame:
    """EWMA control chart (Roberts 1959) over a time-grain series — the
    small-shift monitor tuned the opposite way from CUSUM (geometric
    memory instead of a hard reset): ``e_t = lam*x_t + (1-lam)*e_{t-1}``
    from ``e_0 = mu0``, alarm when ``|e_t - mu0|`` exceeds the exact
    time-varying band ``width * sigma0 * sqrt(lam/(2-lam) *
    (1-(1-lam)^(2t)))``.

    The recursion has a closed window form: ``e_t = (1-lam)^t * (mu0 +
    lam * cumsum(x_i * (1-lam)^(-i)))`` — one rank + one cumulative sum
    over the time-grain frame. The ``(1-lam)^(-i)`` rescaling grows
    geometrically, so this form is for BOUNDED windows (30 days at
    lam = 0.2 -> factor ~800; ~700 steps before double overflow) — at
    longer horizons chunk the series and carry ``e`` across chunks.
    Returns ``(time, x, ewma, band, alarm)`` ordered by time.
    """
    from pyspark.sql.window import Window

    one_m = 1.0 - float(lam)
    w_rank = Window.orderBy(time_col)
    w_cum = Window.orderBy("time").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = F.row_number().over(w_rank).cast("double")
    scaled = F.round(
        F.col(value_col).cast("double") * F.pow(F.lit(one_m), -t), 8
    )
    staged = series.select(
        F.col(time_col).alias("time"),
        F.round(F.col(value_col).cast("double"), 6).alias("x"),
        t.alias("__t"),
        scaled.alias("__a"),
    )
    cum = F.round(F.sum("__a").over(w_cum), 8)
    e = F.round(
        F.pow(F.lit(one_m), F.col("__t"))
        * (F.lit(float(mu0)) + F.lit(float(lam)) * cum),
        8,
    )
    band = F.round(
        F.lit(float(width) * float(sigma0))
        * F.sqrt(
            F.lit(float(lam) / (2.0 - float(lam)))
            * (
                F.lit(1.0)
                - F.pow(F.lit(one_m), F.lit(2.0) * F.col("__t"))
            )
        ),
        8,
    )
    return staged.select(
        "time",
        "x",
        F.round(e, 6).alias("ewma"),
        F.round(band, 6).alias("band"),
        (F.abs(e - F.lit(float(mu0))) > band).alias("alarm"),
    ).orderBy("time")


def theil_sen(
    series: DataFrame,
    time_col: str,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Theil-Sen robust trend over a TIME-GRAIN series: the median of
    all pairwise slopes (breakdown point ~29%, vs 0% for OLS — one
    crazy day can't flip the sign), intercept = median of
    ``y - slope * t``. Returns one row (per group):
    ``(group?, n_points, n_pairs, slope, intercept)``.

    The pairwise self-join is quadratic IN THE TIME GRAIN — the series
    is already aggregated (days, hours), so |pairs| = O(window^2), not
    O(data^2); the join is group-keyed (or a broadcast for a single
    short series). Medians are exact interpolated percentiles over the
    pair/point frames."""
    gcols = [group_col] if group_col else []
    a = series.select(
        *gcols,
        F.col(time_col).cast("double").alias("__t1"),
        F.col(value_col).cast("double").alias("__v1"),
    )
    b = series.select(
        *gcols,
        F.col(time_col).cast("double").alias("__t2"),
        F.col(value_col).cast("double").alias("__v2"),
    )
    pairs = (
        a.join(b, gcols) if gcols else a.crossJoin(F.broadcast(b))
    ).filter(F.col("__t1") < F.col("__t2"))
    slope_rows = pairs.select(
        *gcols,
        F.round(
            (F.col("__v2") - F.col("__v1"))
            / (F.col("__t2") - F.col("__t1")),
            8,
        ).alias("__slope"),
    )
    grp = slope_rows.groupBy(*gcols) if gcols else slope_rows.groupBy()
    med_slope = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.percentile(F.col("__slope"), F.lit(0.5)), 8).alias(
            "slope"
        ),
    )
    joined = (
        a.join(F.broadcast(med_slope), gcols)
        if gcols
        else a.crossJoin(F.broadcast(med_slope))
    )
    resid = joined.select(
        *gcols,
        "n_pairs",
        "slope",
        F.round(
            F.col("__v1") - F.col("slope") * F.col("__t1"), 8
        ).alias("__r"),
    )
    grp2 = resid.groupBy(*gcols, "n_pairs", "slope")
    out = grp2.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.percentile(F.col("__r"), F.lit(0.5)), 6).alias(
            "intercept"
        ),
    )
    cols = (
        [*gcols, "n_points", "n_pairs",
         F.round(F.col("slope"), 6).alias("slope"), "intercept"]
    )
    result = out.select(*cols)
    return result.orderBy(group_col) if group_col else result


def acf_profile(
    series: DataFrame,
    time_col: str,
    value_col: str,
    group_col: str | None = None,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation function of a TIME-GRAIN series at lags
    1..``max_lag`` plus the cumulative Ljung-Box Q statistic — is a
    daily metric white noise, weekly-seasonal (a lag-7 spike), or
    momentum-driven (slow lag-1 decay)? The diagnostic the trend
    (theil_sen) and change-point (cusum_alarm) monitors both assume
    someone has looked at. Returns one row per (group?,) lag:
    ``(group?, lag, n_points, rho, q_stat)`` with the standard biased
    estimator ``rho_k = sum(e_t * e_{t+k}) / sum(e_t^2)`` (e = value
    minus the series mean) and ``Q(h) = n (n+2) sum_{k<=h}
    rho_k^2 / (n-k)`` (compare to chi-squared with h dof; the house
    statistic-not-p-value contract).

    Scale shape: the series is already at time grain (days, hours), so
    every frame is time-grain-bounded. ONE self-join covers ALL lags
    (``0 < t2 - t1 <= max_lag``, group-keyed; gaps in the grid simply
    contribute no pair at the affected lags), one grouped aggregate
    per (group, lag), and the cumulative Q rides a window over the
    lag-grain frame. Per-aggregate 8-dp rounding keeps the
    unrolled SQL oracle exact."""
    gcols = [group_col] if group_col else []
    # eager lineage truncation at the time-grain boundary (the kruskal
    # per_vg lesson): the series frame fans out to the mean, the
    # centering join, the denominator, and BOTH sides of the lag
    # self-join — left lazy, the static plan re-plans the caller's
    # data-proportional aggregate under every consumer (measured 6
    # source scans / 13 shuffles for the daily-events query; 1 after).
    # The frame is time-grain-bounded by contract, so the checkpoint
    # is a few hundred rows.
    base = series.select(
        *gcols,
        F.col(time_col).cast("double").alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    ).localCheckpoint()
    stats = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.round(F.avg("__v"), 8).alias("__mu"),
    )
    cent = (
        base.join(F.broadcast(stats), gcols)
        if gcols
        else base.crossJoin(F.broadcast(stats))
    ).select(*gcols, "__t", "__n", (F.col("__v") - F.col("__mu")).alias("__e"))
    denom = cent.groupBy(*gcols).agg(
        F.round(F.sum(F.col("__e") * F.col("__e")), 8).alias("__den")
    )
    a = cent.select(
        *gcols, F.col("__t").alias("__t1"), F.col("__e").alias("__e1"),
        "__n",
    )
    b = cent.select(
        *gcols, F.col("__t").alias("__t2"), F.col("__e").alias("__e2")
    )
    joined = a.join(b, gcols) if gcols else a.crossJoin(F.broadcast(b))
    lag = (F.col("__t2") - F.col("__t1")).cast("bigint")
    nums = (
        joined.filter((lag >= 1) & (lag <= max_lag))
        .groupBy(*gcols, lag.alias("lag"))
        .agg(
            F.max("__n").alias("__n"),
            F.round(F.sum(F.col("__e1") * F.col("__e2")), 8).alias(
                "__num"
            ),
        )
    )
    rho = (
        nums.join(F.broadcast(denom), gcols)
        if gcols
        else nums.crossJoin(F.broadcast(denom))
    ).select(
        *gcols,
        "lag",
        F.col("__n"),
        F.round(
            F.when(F.col("__den") > 0, F.col("__num") / F.col("__den")),
            8,
        ).alias("__rho"),
    )
    w = (
        Window.partitionBy(*gcols).orderBy("lag")
        if gcols
        else Window.partitionBy().orderBy("lag")
    ).rowsBetween(Window.unboundedPreceding, 0)
    n = F.col("__n")
    qterm = F.round(
        F.col("__rho") * F.col("__rho") / (n - F.col("lag")), 8
    )
    return rho.select(
        *gcols,
        "lag",
        n.cast("bigint").alias("n_points"),
        F.round(F.col("__rho"), 6).alias("rho"),
        F.round(n * (n + 2.0) * F.sum(qterm).over(w), 6).alias(
            "q_stat"
        ),
    ).orderBy(*gcols, "lag")
