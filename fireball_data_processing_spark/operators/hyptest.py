"""Classical hypothesis-test statistics, computed distributed: the
rank-based two-sample Mann-Whitney U (does one variant's VALUE
DISTRIBUTION stochastically dominate the other's? — robust where the
mean-based bootstrap CI is blind to shape) and the chi-squared test of
independence with Cramér's V (is the corpus's (source x language) — or
any categorical pair — mix actually associated, and how strongly?).

Scale design:

- **Mann-Whitney at distinct-value grain**: average ranks come from
  cumulative counts over the per-distinct-value table (one groupBy +
  one window over value order), never a global per-row sort — ties are
  handled exactly (midranks + the tie-corrected variance) and the
  window runs over |distinct values| rows. For continuous values that
  equals n; at 100 TB pre-bucket values through
  ``sketches.histogram_quantiles`` cuts, which turns the window into a
  bucket-count walk (rank tests are bucket-exact under midranks).
- **Chi-squared over the full category cross**: observed cells come
  from one contingency aggregate; MISSING cells still contribute their
  expected mass, so the cell frame is the (row-totals x col-totals)
  cross of two aggregate-sized frames left-joined with the counts —
  |rows| x |cols| rows, never data-sized.

Both emit test statistics (U, z, chi2, dof, Cramér's V) and leave
p-value lookup to the caller — no erf/chi2-CDF primitive exists in
either engine, and decision thresholds on z / chi2 quantiles are the
standard production form anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "mann_whitney_u",
    "chi2_association",
    "kruskal_wallis",
    "spearman_matrix",
    "mcnemar_paired",
    "cochran_q",
    "normal_sf_expr",
    "normal_sf_sql",
    "bh_significant",
]


def mann_whitney_u(df: DataFrame, value_col: str, is_b: Column) -> DataFrame:
    """Two-sample Mann-Whitney U with midrank tie handling and the
    tie-corrected normal approximation. ``is_b`` marks the B sample.
    Returns ONE row ``(n_a, n_b, u_a, z)`` where ``u_a`` is the U
    statistic of sample A and ``z = (u_a - n_a n_b / 2) / sigma_tie``
    (positive z = A's values rank higher)."""
    vals = df.select(
        F.col(value_col).cast("double").alias("v"),
        F.when(is_b, 1).otherwise(0).alias("b"),
    )
    per = vals.groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.sum("b").cast("double").alias("tb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.select(
        "v",
        "t",
        "tb",
        (F.coalesce(F.sum("t").over(w), F.lit(0.0))
         + (F.col("t") + 1.0) / 2.0).alias("avg_rank"),
    )
    agg = ranked.agg(
        F.round(F.sum((F.col("t") - F.col("tb")) * F.col("avg_rank")),
                8).alias("ra"),
        F.sum(F.col("t") - F.col("tb")).alias("na"),
        F.sum("tb").alias("nb"),
        F.round(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
            8,
        ).alias("tie_mass"),
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u_a = F.col("ra") - na * (na + 1.0) / 2.0
    var = (na * nb / 12.0) * (
        (n + 1.0) - F.col("tie_mass") / (n * (n - 1.0))
    )
    return agg.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(u_a, 6).alias("u_a"),
        F.round((u_a - na * nb / 2.0) / F.sqrt(var), 6).alias("z"),
    )


def chi2_association(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns plus Cramér's V effect size. Returns ONE row
    ``(n, n_rows, n_cols, chi2, dof, cramers_v)``. The cell frame is
    the full (row-category x col-category) cross built from the two
    aggregate-sized marginal frames, so zero-observed cells contribute
    their expected mass exactly."""
    obs = df.select(
        F.col(a_col).alias("ra"), F.col(b_col).alias("cb")
    ).groupBy("ra", "cb").agg(F.count(F.lit(1)).cast("double").alias("o"))
    rows = obs.groupBy("ra").agg(F.sum("o").alias("rt"))
    cols = obs.groupBy("cb").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        F.broadcast(rows)
        .crossJoin(F.broadcast(cols))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["ra", "cb"], "left")
        .select(
            "ra",
            "cb",
            "n",
            F.coalesce(F.col("o"), F.lit(0.0)).alias("o"),
            (F.col("rt") * F.col("ct") / F.col("n")).alias("e"),
        )
    )
    stats = cells.agg(
        F.max("n").alias("n"),
        F.countDistinct("ra").cast("bigint").alias("n_rows"),
        F.countDistinct("cb").cast("bigint").alias("n_cols"),
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                  / F.col("e")),
            8,
        ).alias("chi2"),
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    mindim = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    return stats.select(
        F.col("n").cast("bigint").alias("n"),
        "n_rows",
        "n_cols",
        F.round(F.col("chi2"), 6).alias("chi2"),
        dof.cast("bigint").alias("dof"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * mindim.cast("double"))),
            6,
        ).alias("cramers_v"),
    )


def normal_sf_expr(z_abs: Column) -> Column:
    """Upper-tail probability ``P(Z > z)`` of the standard normal for
    ``z >= 0``, via the Abramowitz & Stegun 26.2.17 polynomial (max
    absolute error 7.5e-8) — both engines evaluate the SAME rational
    polynomial on the SAME rounded double, so p-values are engine-
    identical without an erf primitive (neither Spark SQL nor DuckDB
    exposes one). Inputs should be pre-rounded (house contract)."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * z_abs)
    poly = t * (
        F.lit(0.319381530)
        + t
        * (
            F.lit(-0.356563782)
            + t
            * (
                F.lit(1.781477937)
                + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
            )
        )
    )
    pdf = F.exp(-z_abs * z_abs / F.lit(2.0)) / F.lit(2.5066282746310002)
    return pdf * poly


def normal_sf_sql(z_expr: str) -> str:
    """The same polynomial as DuckDB SQL, for oracle construction."""
    return (
        f"(EXP(-({z_expr}) * ({z_expr}) / 2.0) / 2.5066282746310002) * "
        f"((1.0 / (1.0 + 0.2316419 * ({z_expr}))) * (0.319381530 + "
        f"(1.0 / (1.0 + 0.2316419 * ({z_expr}))) * (-0.356563782 + "
        f"(1.0 / (1.0 + 0.2316419 * ({z_expr}))) * (1.781477937 + "
        f"(1.0 / (1.0 + 0.2316419 * ({z_expr}))) * (-1.821255978 + "
        f"(1.0 / (1.0 + 0.2316419 * ({z_expr}))) * 1.330274429)))))"
    )


def bh_significant(
    scored: DataFrame,
    p_col: str,
    key_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a (small,
    hypothesis-grain) frame: rank p-values ascending (``key_col`` as
    the deterministic tiebreak), find the largest rank k with
    ``p_(k) <= k/m * alpha``, and flag ranks <= k significant. Adds
    ``bh_rank`` and ``significant``. All windows run over the
    hypothesis-grain frame (one row per test), never the data."""
    w = Window.orderBy(F.col(p_col), F.col(key_col))
    ranked = scored.withColumn("bh_rank", F.row_number().over(w))
    m = Window.partitionBy()
    crit = (
        F.col(p_col)
        <= F.col("bh_rank").cast("double")
        / F.count(F.lit(1)).over(m).cast("double")
        * F.lit(float(alpha))
    )
    kmax = F.max(F.when(crit, F.col("bh_rank")).otherwise(0)).over(m)
    return ranked.withColumn("significant", F.col("bh_rank") <= kmax)


def kruskal_wallis(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Kruskal-Wallis H test — the k-group generalization of
    :func:`mann_whitney_u` (Kruskal & Wallis 1952): do ANY of the
    groups' value distributions differ, judged on ranks (robust to
    outliers and shape where a k-group mean comparison is not)?
    Returns ONE row ``(n, n_groups, h, dof, tie_correction, h_adj,
    epsilon_sq)`` — the raw H, the tie-corrected ``h_adj = H / C``
    with ``C = 1 - sum(t^3 - t) / (n^3 - n)``, and the epsilon-squared
    effect size ``h_adj / (n - 1)``.

    Scale shape (the mann_whitney_u contract): midranks come from one
    cumulative window over the per-DISTINCT-VALUE table, never a
    per-row sort — (value, group) counts aggregate first, the window
    runs over |distinct values| rows, and per-group rank sums are one
    more aggregate. For continuous values |distinct| ~ n; at 100 TB
    pre-bucket through ``sketches.histogram_quantiles`` cuts (rank
    tests are bucket-exact under midranks)."""
    # NULL values are OMITTED (the standard rank-test treatment, and
    # the only cross-engine-safe one: Spark's window ORDER BY puts
    # NULLS FIRST, DuckDB's NULLS LAST, so a ranked NULL group would
    # shift every real rank differently per engine while the
    # null-unsafe rank join dropped it from n — an out-of-range H)
    vals = df.select(
        F.col(value_col).cast("double").alias("v"),
        F.col(group_col).alias("g"),
    ).filter(F.col("v").isNotNull())
    # eager lineage truncation on the (value, group)-grain counts: the
    # frame feeds BOTH the rank window (via the value-grain rollup,
    # itself consumed by the rank table and the tie-mass aggregate) and
    # the per-group rank-sum join — left lazy, the static plan re-plans
    # the source scan under every consumer (3 scans observed). The
    # frame is |distinct values| x |groups| rows, n at worst for
    # continuous values — the same bound as the rank window itself,
    # and bucket-grain under the documented 100 TB pre-bucket escape.
    per_vg = (
        vals.groupBy("v", "g")
        .agg(F.count(F.lit(1)).cast("double").alias("tg"))
        .localCheckpoint()
    )
    per_v = per_vg.groupBy("v").agg(F.sum("tg").alias("t"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "v",
        "t",
        (F.coalesce(F.sum("t").over(w), F.lit(0.0))
         + (F.col("t") + 1.0) / 2.0).alias("avg_rank"),
    )
    per_g = (
        per_vg.join(ranked.select("v", "avg_rank"), "v")
        .groupBy("g")
        .agg(
            F.sum("tg").alias("n_g"),
            F.round(F.sum(F.col("tg") * F.col("avg_rank")), 8).alias(
                "r_g"
            ),
        )
    )
    gstats = per_g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n_g").alias("n"),
        F.round(
            F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")), 8
        ).alias("s"),
    )
    tstats = ranked.agg(
        F.round(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
            8,
        ).alias("tie_mass")
    )
    n, k, s = F.col("n"), F.col("k"), F.col("s")
    h = F.lit(12.0) / (n * (n + 1.0)) * s - 3.0 * (n + 1.0)
    c = F.lit(1.0) - F.col("tie_mass") / (n * n * n - n)
    return gstats.crossJoin(F.broadcast(tstats)).select(
        n.cast("bigint").alias("n"),
        k.cast("bigint").alias("n_groups"),
        F.round(h, 6).alias("h"),
        (k - 1.0).cast("bigint").alias("dof"),
        F.round(c, 6).alias("tie_correction"),
        F.round(h / c, 6).alias("h_adj"),
        F.round(h / c / (n - 1.0), 6).alias("epsilon_sq"),
    )


def spearman_matrix(
    df: DataFrame,
    id_col: str,
    metrics: dict[str, Column],
) -> DataFrame:
    """Pairwise Spearman rank correlation between the given per-row
    ``metrics`` (name -> numeric Column): Pearson's formula on MIDRANKS
    — which metrics measure the same thing, monotonically, without
    assuming linearity? The standard screen for redundant quality
    signals before composing them into one score. Returns one row per
    unordered pair ``(metric_a, metric_b, n, rho)`` with
    ``metric_a < metric_b``, ordered by pair. NULL metric values take
    the COMPLETE-CASE (listwise-deletion) contract: rows where ANY
    metric is NULL are dropped before ranking, so ranks, every pair's
    ``n``, and every sum are computed over the same complete rows —
    the internally consistent estimator (equal to pandas
    ``dropna().corr(method='spearman')``), instead of silently mixing
    a full count with null-dropped sums.

    Scale shape: metrics melt to long form (one explode, |metrics|-fold
    — a handful of doubles per row), midranks come from a cumulative
    window over the per-(metric, distinct value) table PARTITIONED BY
    METRIC (the mann_whitney_u escape applies per metric at 100 TB),
    ranks join back on (metric, value) via a broadcast of the
    rank-table side, then PIVOT WIDE on the id (one hash exchange) so
    ALL k(k-1)/2 pair statistics come out of ONE partial-combining
    aggregate over the wide frame. A ranked-frame self-join was tried
    first and rejected: each side of the join re-planned the ENTIRE
    melt + rank-window subtree and fanned out |metrics|^2 rows per id
    — the pivot form runs the rank window once, never builds the
    pair-grain frame, and its only duplication is the projected source
    scan under the long frame's two consumers (the rank table and the
    join-back; the melt is a handful of per-row expressions). Metric
    expressions must be engine-exact (integer counts, single IEEE
    divisions): value-grain grouping relies on bit-identical doubles
    across engines."""
    keep = None
    for expr in metrics.values():
        cond = expr.isNotNull()
        keep = cond if keep is None else (keep & cond)
    df = df.filter(keep) if keep is not None else df
    long = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("metric"),
                        expr.cast("double").alias("x"),
                    )
                    for name, expr in sorted(metrics.items())
                ]
            )
        ).alias("__m"),
    ).select("__id", F.col("__m.metric").alias("metric"), F.col("__m.x").alias("x"))
    # the melt feeds TWO physical consumers (the rank table and the
    # join-back); unpinned, each would re-evaluate the metric
    # expressions — often regex/split-heavy document features — over the
    # full source scan. The cached
    # frame is |metrics| doubles per row, far narrower than the source.
    long = long.persist()
    per_mx = long.groupBy("metric", "x").agg(
        F.count(F.lit(1)).cast("double").alias("t")
    )
    w = (
        Window.partitionBy("metric")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked_vals = per_mx.select(
        "metric",
        "x",
        (F.coalesce(F.sum("t").over(w), F.lit(0.0))
         + (F.col("t") + 1.0) / 2.0).alias("r"),
    )
    ranked = long.join(
        F.broadcast(ranked_vals), ["metric", "x"]
    ).select("__id", "metric", "r")
    names = sorted(metrics)
    wide = ranked.groupBy("__id").pivot("metric", names).agg(F.first("r"))
    pair_list = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    # complete-case input (the filter above) means every rank column
    # is non-null, so the per-metric sums are shared across pairs —
    # 2k + k(k-1)/2 + 1 aggregate columns, one combine
    aggs = [F.count(F.lit(1)).cast("double").alias("__n")]
    for m in names:
        aggs.append(F.round(F.sum(F.col(m)), 8).alias(f"__s_{m}"))
        aggs.append(
            F.round(F.sum(F.col(m) * F.col(m)), 8).alias(f"__ss_{m}")
        )
    for a, b in pair_list:
        aggs.append(
            F.round(F.sum(F.col(a) * F.col(b)), 8).alias(
                f"__sp_{a}__{b}"
            )
        )
    stats = wide.agg(*aggs)
    n = F.col("__n")
    out_rows = []
    for a, b in pair_list:
        sa, sb = F.col(f"__s_{a}"), F.col(f"__s_{b}")
        saa, sbb = F.col(f"__ss_{a}"), F.col(f"__ss_{b}")
        sab = F.col(f"__sp_{a}__{b}")
        num = n * sab - sa * sb
        den = F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
        out_rows.append(
            F.struct(
                F.lit(a).alias("metric_a"),
                F.lit(b).alias("metric_b"),
                n.cast("bigint").alias("n"),
                F.round(F.when(den > 0, num / den), 6).alias("rho"),
            )
        )
    return (
        stats.select(F.explode(F.array(*out_rows)).alias("__p"))
        .select("__p.metric_a", "__p.metric_b", "__p.n", "__p.rho")
        .orderBy("metric_a", "metric_b")
    )


def mcnemar_paired(
    df: DataFrame,
    gate_a: Column,
    gate_b: Column,
) -> DataFrame:
    """McNemar's test on PAIRED booleans (McNemar 1947) — do two gates
    (or two classifiers scored on the same items) disagree
    systematically, judged only on the discordant cells? The standard
    paired comparison for "did the new filter change decisions, or
    just shuffle them symmetrically?". Returns ONE row
    ``(n, both_pass, a_only, b_only, neither, chi2_cc)`` where
    ``chi2_cc = (max(|a_only - b_only| - 1, 0))^2 / (a_only + b_only)``
    (continuity-corrected, 1 dof; NULL when there are no discordant
    pairs). One partial-combining aggregate over pure per-row
    expressions — zero shuffles beyond the final single-row combine,
    the same scan shape at 100 TB."""
    a = F.coalesce(gate_a, F.lit(False))
    b = F.coalesce(gate_b, F.lit(False))
    cells = df.select(
        F.when(a & b, 1).otherwise(0).alias("ab"),
        F.when(a & ~b, 1).otherwise(0).alias("a_"),
        F.when(~a & b, 1).otherwise(0).alias("b_"),
        F.when(~a & ~b, 1).otherwise(0).alias("nn"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ab").alias("both_pass"),
        F.sum("a_").alias("a_only"),
        F.sum("b_").alias("b_only"),
        F.sum("nn").alias("neither"),
    )
    disc = (F.col("a_only") + F.col("b_only")).cast("double")
    diff = F.greatest(
        F.abs(F.col("a_only") - F.col("b_only")).cast("double") - 1.0,
        F.lit(0.0),
    )
    return cells.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("both_pass").cast("bigint").alias("both_pass"),
        F.col("a_only").cast("bigint").alias("a_only"),
        F.col("b_only").cast("bigint").alias("b_only"),
        F.col("neither").cast("bigint").alias("neither"),
        F.round(
            F.when(disc > 0, diff * diff / disc), 6
        ).alias("chi2_cc"),
    )


def cochran_q(df: DataFrame, gates: dict[str, Column]) -> DataFrame:
    """Cochran's Q test (Cochran 1950) — the k-gate generalization of
    :func:`mcnemar_paired`: do k boolean gates scored on the SAME rows
    pass at the same rate, accounting for the pairing? (For k = 2 it
    reduces to the uncorrected McNemar.) Returns ONE row
    ``(n, k, q, dof)`` plus one ``pass_<name>`` count per gate, with

        Q = (k - 1) * (k * sum_j G_j^2 - T^2) / (k * T - sum_i L_i^2)

    where G_j = per-gate pass count, L_i = per-row pass count, and
    T = sum of either. NULL gate values count as fail (the
    mcnemar_paired convention); Q is NULL when every row is unanimous
    (denominator 0 — no discordance to test).

    Scale shape: the per-row pass count L_i and its square fold into
    the SAME single partial-combining aggregate as the per-gate sums —
    one scan, zero shuffles beyond the single-row combine, identical
    at 100 TB."""
    names = sorted(gates)
    k = float(len(names))
    cols = [
        F.when(F.coalesce(gates[m], F.lit(False)), 1).otherwise(0).alias(
            f"__g_{m}"
        )
        for m in names
    ]
    base = df.select(*cols)
    li = sum((F.col(f"__g_{m}") for m in names), F.lit(0))
    aggs = [
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(li).cast("double").alias("__t"),
        F.sum(li * li).cast("double").alias("__l2"),
    ] + [
        F.sum(F.col(f"__g_{m}")).cast("double").alias(f"__s_{m}")
        for m in names
    ]
    stats = base.agg(*aggs)
    g2 = sum(
        (F.col(f"__s_{m}") * F.col(f"__s_{m}") for m in names), F.lit(0.0)
    )
    t = F.col("__t")
    den = F.lit(k) * t - F.col("__l2")
    q = F.lit(k - 1.0) * (F.lit(k) * g2 - t * t) / den
    return stats.select(
        F.col("__n").cast("bigint").alias("n"),
        F.lit(int(k)).cast("bigint").alias("k"),
        F.round(F.when(den > 0, q), 6).alias("q"),
        F.lit(int(k) - 1).cast("bigint").alias("dof"),
        *[
            F.col(f"__s_{m}").cast("bigint").alias(f"pass_{m}")
            for m in names
        ],
    )
