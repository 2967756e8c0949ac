"""Distributed model calibration over corpus statistics: a 2-parameter
logistic fit (Newton-Raphson) and a split-conformal threshold picker —
the "turn a raw heuristic score into a decision" layer that sits between
the engine's quality scorers (functions/textstats.py, operators/
selection.py) and its gates. A raw score is only ordinal; calibration
makes it a probability (logistic) or a coverage-guaranteed cutoff
(conformal), which is what a production ingest gate actually thresholds
on.

Extends the reference's fixed hand-tuned thresholds (heuristic cutoffs
chosen offline) with the fitting step itself, run distributed.

Scale design:

- **Sufficient statistics, not data movement**: each Newton iteration is
  ONE full aggregate producing the 5 gradient/Hessian sums (g0, g1, h00,
  h01, h11) — map-side partial combine does nearly all the work, the
  exchange carries one 5-tuple per partition, and the 2x2 solve is plain
  column arithmetic on a 1-row frame. The parameter state never leaves
  DataFrames (it re-enters each iteration as a broadcast cross join), so
  there are ZERO driver collects — the dawid_skene execution shape.
- **Cross-engine reproducibility** (the kmeans contract): the 5 sums are
  ROUNDED to ``round_dp`` before the solve each iteration, absorbing
  summation-order float noise, so an unrolled SQL oracle replays the
  Newton steps exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "logistic_fit_2param",
    "conformal_threshold",
    "isotonic_bucket_fit",
    "reliability_diagram",
]


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _newton_params(
    df: DataFrame, x: Column, y: Column, n_iter: int, round_dp: int
) -> DataFrame:
    """The shared Newton-Raphson loop: returns the 1-row ``(b0, b1)``
    coefficient frame after exactly ``n_iter`` steps from ``(0, 0)``.
    Each step is one sufficient-statistic aggregate (5 sums) + a 2x2
    closed-form solve on a 1-row frame; sums and updated coefficients
    are rounded to ``round_dp`` so an unrolled SQL oracle replays the
    trajectory exactly (the kmeans contract)."""
    params = df.sparkSession.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    for _ in range(n_iter):
        p = _sigmoid(F.col("b0") + F.col("b1") * x)
        w = p * (F.lit(1.0) - p)
        sums = (
            df.crossJoin(F.broadcast(params))
            .agg(
                F.round(F.sum(y - p), round_dp).alias("g0"),
                F.round(F.sum((y - p) * x), round_dp).alias("g1"),
                F.round(F.sum(w), round_dp).alias("h00"),
                F.round(F.sum(w * x), round_dp).alias("h01"),
                F.round(F.sum(w * x * x), round_dp).alias("h11"),
                F.max("b0").alias("b0"),
                F.max("b1").alias("b1"),
            )
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        params = sums.select(
            F.round(
                F.col("b0")
                + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1"))
                / det,
                round_dp,
            ).alias("b0"),
            F.round(
                F.col("b1")
                + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0"))
                / det,
                round_dp,
            ).alias("b1"),
        )
    return params


def logistic_fit_2param(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_iter: int = 2,
) -> DataFrame:
    """Newton-Raphson fit of ``P(y=1|x) = sigmoid(b0 + b1*x)`` from
    ``(0, 0)``, exactly ``n_iter`` steps. Returns ONE row:
    ``(intercept, slope, n, logloss)`` with the coefficients rounded to
    6 dp and logloss (mean negative log-likelihood at the final
    parameters) rounded likewise.

    Per step, with ``p = sigmoid(b0 + b1*x)`` and ``w = p*(1-p)``:
    gradient ``(g0, g1) = (sum(y-p), sum((y-p)*x))``, Hessian
    ``[[h00, h01], [h01, h11]] = [[sum(w), sum(w*x)], [sum(w*x),
    sum(w*x^2)]]``, update = Hessian^-1 @ gradient via the closed-form
    2x2 inverse. Sums are rounded to 8 dp before the solve and
    the updated coefficients are rounded again — both engines then feed
    identical doubles into the next iteration.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    params = _newton_params(df, x, y, n_iter, 8)
    p = _sigmoid(F.col("b0") + F.col("b1") * x)
    return (
        df.crossJoin(F.broadcast(params))
        .agg(
            F.max("b0").alias("__b0"),
            F.max("b1").alias("__b1"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                -F.avg(y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p)),
                6,
            ).alias("logloss"),
        )
        .select(
            F.round(F.col("__b0"), 6).alias("intercept"),
            F.round(F.col("__b1"), 6).alias("slope"),
            "n",
            "logloss",
        )
    )


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    key: Column,
    alpha: float = 0.1,
    cal_fraction: float = 0.25,
    salt: str = "cal",
) -> DataFrame:
    """Split-conformal cutoff selection: hash ``cal_fraction`` of the
    rows into a calibration split (operators/sampling.py hash_rank — the
    house deterministic split), take the exact interpolated
    ``alpha``-quantile of the calibration scores as the keep-threshold,
    and report the pass rate it induces on the held-out rest. With
    exchangeable scores, ``P(test score >= threshold) ~ 1 - alpha`` —
    the distribution-free guarantee split conformal gives a gate.
    Returns ONE row ``(alpha, threshold, n_cal, n_test, test_pass_rate)``.

    Two aggregates over one scan each; the calibration quantile is the
    small-split exact percentile (calibration sets are sampled small by
    design — the 100 TB path quantiles the sketch of
    ``sketches.histogram_quantiles`` instead).
    """
    from fireball_data_processing_spark.operators.sampling import hash_rank

    s = F.col(score_col).cast("double")
    tagged = df.select(
        s.alias("__s"),
        (hash_rank(key, salt) < F.lit(cal_fraction)).alias("__is_cal"),
    )
    cal = tagged.filter(F.col("__is_cal")).agg(
        F.round(F.percentile(F.col("__s"), F.lit(alpha)), 6).alias(
            "threshold"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
    )
    test = tagged.filter(~F.col("__is_cal"))
    return (
        test.crossJoin(F.broadcast(cal))
        .agg(
            F.max("threshold").alias("threshold"),
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.round(
                F.avg(
                    F.when(F.col("__s") >= F.col("threshold"), 1.0).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("test_pass_rate"),
        )
        .select(
            F.lit(float(alpha)).alias("alpha"),
            "threshold",
            "n_cal",
            "n_test",
            "test_pass_rate",
        )
    )


def reliability_diagram(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_col: str | None = None,
    n_iter: int = 2,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for the
    ``n_iter``-step logistic fit of ``P(y=1|x)`` — the diagnostic that
    says whether the calibrated gate probability can be TRUSTED, which
    neither the fit's logloss nor the conformal pass rate answers
    (Guo et al. 2017's ECE, computed distributed).

    Predicted probabilities (rounded to 8 dp so both engines bin
    identical doubles) are cut into ``n_bins`` bins; per bin the mean
    confidence, mean observed rate, and their absolute gap; ECE is the
    support-weighted mean gap, attached to every row via a window over
    the <= ``n_bins``-row bin frame.

    Binning modes: with ``key_col`` set, EQUAL-MASS bins via
    ``ntile(n_bins)`` ordered by ``(p, key)`` — the unique key makes the
    total order (hence bin membership) engine-reproducible even under
    heavy probability ties, and every bin is populated; without it,
    EQUAL-WIDTH bins on ``floor(p * n_bins)``, which needs no sort at
    all. The ntile is one global sort — fine for a diagnostic; at
    100 TB either use the equal-width mode or pre-bin on
    ``sketches.histogram_quantiles`` cut points instead of a total sort.

    Plan shape: the Newton loop's one aggregate per step, then ONE
    groupBy over the scan (n_bins groups — partial combine does all the
    work) and a window over at most ``n_bins`` rows. Zero collects; the
    coefficients re-enter as a broadcast. Returns
    ``(bin, n, avg_conf, avg_acc, gap, ece)`` ordered by bin.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    from pyspark.sql.window import Window

    params = _newton_params(df, x, y, n_iter, 8)
    p = F.round(_sigmoid(F.col("b0") + F.col("b1") * x), 8)
    if key_col is not None:
        scored = df.crossJoin(F.broadcast(params)).select(
            p.alias("__p"), y.alias("__y"), F.col(key_col).alias("__k")
        )
        bin_col = (
            F.ntile(n_bins)
            .over(Window.orderBy(F.col("__p"), F.col("__k")))
            .cast("bigint")
            .alias("bin")
        )
        scored = scored.select(bin_col, "__p", "__y")
    else:
        scored = df.crossJoin(F.broadcast(params)).select(
            F.least(F.floor(p * n_bins), F.lit(n_bins - 1))
            .cast("bigint")
            .alias("bin"),
            p.alias("__p"),
            y.alias("__y"),
        )
    bins = (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("__p"), 6).alias("avg_conf"),
            F.round(F.avg("__y"), 6).alias("avg_acc"),
        )
        .withColumn(
            "gap",
            F.round(F.abs(F.col("avg_conf") - F.col("avg_acc")), 6),
        )
    )
    w = Window.partitionBy()
    return bins.select(
        "bin",
        "n",
        "avg_conf",
        "avg_acc",
        "gap",
        F.round(
            F.sum(F.col("n") * F.col("gap")).over(w)
            / F.sum(F.col("n")).over(w),
            6,
        ).alias("ece"),
    ).orderBy("bin")


def isotonic_bucket_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_col: str,
    n_buckets: int = 20,
) -> DataFrame:
    """Isotonic (monotone) calibration at bucket grain — the
    non-parametric partner of the logistic fit: no sigmoid shape
    assumption, just "higher score must mean higher rate", which is
    exactly what a ranking-derived quality score promises. Scores are
    cut into ``n_buckets`` equal-mass buckets (ntile over ``(x, key)``
    — the unique key pins bucket membership across engines), and the
    pool-adjacent-violators SOLUTION is computed in closed minimax form

        iso_t = max_{i <= t} min_{j >= t} mean(y, buckets i..j)

    (Ayer et al. 1955) — no iterative pooling: interval means come from
    prefix sums over the bucket frame, and the max-min runs over the
    (i, t, j) triple frame, which is O(n_buckets^3) rows of PURE
    AGGREGATE data (8000 at 20 buckets), never the corpus.

    Returns ``(bucket, n, avg_x, raw_rate, iso_rate)`` ordered by
    bucket; ``iso_rate`` is non-decreasing by construction. One ntile
    sort + one bucket aggregate over the data; everything after is
    bucket-grain arithmetic."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("__x"), F.col("__k"))
    bucketed = df.select(
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
        F.col(key_col).alias("__k"),
    ).select(
        F.ntile(n_buckets).over(w).cast("bigint").alias("bucket"),
        "__x",
        "__y",
    )
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.round(F.avg("__x"), 6).alias("avg_x"),
        F.round(F.sum("__y"), 8).alias("__sy"),
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = per.select(
        "bucket",
        "__n",
        "avg_x",
        "__sy",
        F.sum("__n").over(wc).alias("__cn"),
        F.sum("__sy").over(wc).alias("__cs"),
    ).localCheckpoint()
    lo = pref.select(
        F.col("bucket").alias("i"),
        (F.col("__cn") - F.col("__n")).alias("__cn0"),
        (F.col("__cs") - F.col("__sy")).alias("__cs0"),
    )
    hi = pref.select(
        F.col("bucket").alias("j"),
        F.col("__cn").alias("__cnj"),
        F.col("__cs").alias("__csj"),
    )
    intervals = (
        F.broadcast(lo)
        .crossJoin(F.broadcast(hi))
        .filter(F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            F.round(
                (F.col("__csj") - F.col("__cs0"))
                / (F.col("__cnj") - F.col("__cn0")),
                8,
            ).alias("m"),
        )
    )
    ts = pref.select(F.col("bucket").alias("t"))
    triple = (
        intervals.crossJoin(F.broadcast(ts))
        .filter((F.col("i") <= F.col("t")) & (F.col("t") <= F.col("j")))
    )
    inner = triple.groupBy("t", "i").agg(
        F.round(F.min("m"), 8).alias("mm")
    )
    iso = inner.groupBy("t").agg(
        F.round(F.max("mm"), 8).alias("__iso")
    )
    return (
        per.join(iso, per["bucket"] == iso["t"])
        .select(
            "bucket",
            F.col("__n").cast("bigint").alias("n"),
            "avg_x",
            F.round(F.col("__sy") / F.col("__n"), 6).alias("raw_rate"),
            F.round(F.col("__iso"), 6).alias("iso_rate"),
        )
        .orderBy("bucket")
    )
