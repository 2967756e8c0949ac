"""Importance-resampling data selection (DSIR-style) for domain targeting.

Given a small TARGET sample (the domain you want more of) and the RAW
corpus, score every raw document by how target-like its hashed n-gram
distribution is, then keep the top slice: the published
importance-resampling recipe for LM data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"),
re-expressed as Spark aggregations.

Method: word n-grams are hashed into ``n_buckets`` (portable md5
bucketing — cross-engine reproducible, same idiom as
:mod:`.sampling`); the target and raw bucket distributions are two
aggregations; each document's log importance weight is
``sum over its grams of ln(p_target[b] / p_raw[b])`` with add-one
smoothing. High weight = looks like the target domain.

Scale design:

- **Distributions are aggregate-sized** (``n_buckets`` rows), enter the
  scoring plan as ONE broadcast join on the bucket id — never a
  corpus-sized shuffle.
- **Scoring is one pass**: gram-explode the raw corpus once, broadcast-
  join the merged distribution table, one groupBy(doc) sum.
- **The target side is small by construction** (a curated sample);
  building its distribution costs one scan of the sample.
- Two corpus passes total (distribution build + scoring) are inherent:
  scores depend on the completed distributions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.retrieval import tokens

__all__ = [
    "exp_decay_weight",
    "gram_buckets",
    "bucket_distribution",
    "dsir_log_weights",
    "budget_fill",
    "score_percentile_gate",
]


_FILL_BUCKETS = 64


def budget_fill(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    tie_col: str,
    budget: int | DataFrame,
    cum_col: str = "cum_weight",
    group_col: str | None = None,
) -> DataFrame:
    """Greedy best-score-first selection until a cumulative weight budget
    is exhausted — "fill a token budget with the highest-quality
    documents", the data-constrained-scaling selection step (Muennighoff
    et al. 2023; every frontier-lab data pipeline has this op). Keeps
    exactly the rows whose running total (ordered by ``score_col`` DESC,
    ``tie_col`` ASC) stays within ``budget``; the running total is
    emitted as ``cum_col``.

    With ``group_col`` set, the fill runs PER GROUP: the running total
    restarts per group and ``budget`` may be a ``(group_col, budget)``
    DataFrame of per-group budgets (broadcast-joined; groups absent
    from it are dropped) — the shape that materializes a domain
    MIXTURE into data: :func:`doremi_mixture_weights` (or any rate
    planner) decides each domain's token share, this op fills each
    share with that domain's best-scoring documents. Group keys join
    null-safely (the percentile-gate lesson: a NULL group is its own
    partition in every window here, so the budget join must not drop
    it).

    Scale shape — the naive formulation is a global-window trap: a
    cumulative ``sum().over(Window.orderBy(...))`` with no partitionBy
    collapses to ONE partition and serializes the whole corpus through a
    single task. Instead, a two-phase distributed prefix sum:

    1. coarse-bucket rows by score (``score_col`` must lie in [0, 1] —
       quality ratios do; clamped floor into ``_FILL_BUCKETS`` value-range
       buckets, no shuffle),
    2. per-bucket weight totals (one aggregate, ``_FILL_BUCKETS`` rows) ->
       exclusive running offsets over that TINY frame (the one
       unpartitioned window in the plan runs over ``_FILL_BUCKETS`` rows,
       the same bounded-aggregate idiom as the house one-row broadcast
       scalars),
    3. broadcast the offsets back; the per-row cumulative sum is then a
       window PARTITIONED by bucket — parallel across buckets.

    The result is bucketing-invariant (bucket order refines the global
    order: score ordering decides the bucket, ties stay inside one
    bucket), so the DuckDB oracle can use the plain single-window SQL.
    """
    bkt = F.least(
        F.greatest(
            F.floor(F.col(score_col) * _FILL_BUCKETS).cast("int"), F.lit(0)
        ),
        F.lit(_FILL_BUCKETS - 1),
    )
    # the bucketed frame feeds TWO physical branches (the offsets
    # aggregate and the per-row join probe); without a pin each branch
    # re-executes the caller's whole upstream pipeline — for the
    # domain_budget_fill composition that upstream includes regex-heavy
    # per-row feature math. Bucket-projection-sized, LRU-evictable.
    #
    # Pre-partitioning the pin on the consumers' clustering key
    # (bucket) was A/B'd here and rejected — domain_budget_fill read
    # +0.0/+0.4 s and token_budget_fill +0.05/+0.18 s across two
    # interleaved passes (the pinned frame's REPARTITION_BY_COL cannot
    # be AQE-coalesced inside a cache, so at toy scale the downstream
    # window pays 64 un-coalesced tasks; and the runtime elision of the
    # consumers' ENSURE_REQUIREMENTS exchanges over a cached frame is
    # not deterministic). The fill's post-combine offsets exchange is
    # taxonomy-sized either way.
    sdf = df.withColumn("__bkt", bkt).persist()
    gcols = ([group_col] if group_col is not None else []) + ["__bkt"]
    bucket_sums = sdf.groupBy(*gcols).agg(F.sum(weight_col).alias("__bw"))
    w_off = (
        (
            Window.partitionBy(group_col)
            if group_col is not None
            else Window.partitionBy()
        )
        .orderBy(F.desc("__bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        *gcols,
        F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = (
        Window.partitionBy(*gcols)
        .orderBy(F.desc(score_col), F.asc(tie_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if group_col is None:
        filled = sdf.join(F.broadcast(offsets), "__bkt")
    else:
        off = offsets.select(
            F.col(group_col).alias("__og"),
            F.col("__bkt").alias("__ob"),
            "__off",
        )
        filled = sdf.join(
            F.broadcast(off),
            F.col(group_col).eqNullSafe(F.col("__og"))
            & (F.col("__bkt") == F.col("__ob")),
        ).drop("__og", "__ob")
    filled = filled.withColumn(
        cum_col,
        (F.col("__off") + F.sum(weight_col).over(w_in)).cast("bigint"),
    )
    if isinstance(budget, DataFrame):
        if group_col is None:
            raise ValueError("a budget DataFrame requires group_col")
        b = budget.select(
            F.col(group_col).alias("__bg"),
            F.col("budget").cast("bigint").alias("__budget"),
        )
        filled = filled.join(
            F.broadcast(b), F.col(group_col).eqNullSafe(F.col("__bg"))
        ).drop("__bg")
        cut = F.col("__budget")
    else:
        cut = F.lit(int(budget))
    return (
        filled.filter(F.col(cum_col) <= cut)
        .drop("__bkt", "__off", "__budget")
    )


def gram_buckets(
    text: Column, n_buckets: int, gram_n: int = 2
) -> Column:
    """Hashed word-``gram_n``-gram bucket ids of a text column
    (array<bigint>, one entry per gram occurrence). Portable md5
    bucketing: ``conv(substr(md5(gram), 1, 8), 16, 10) % n_buckets`` —
    bit-identical in any engine with md5."""
    toks = tokens(text)
    grams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (gram_n - 1), F.lit(0))),
        lambda _, i: F.concat_ws(
            " ", F.slice(toks, i + 1, gram_n)
        ),
    )
    return F.transform(
        grams,
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint"),
            F.lit(n_buckets),
        ),
    )


def bucket_distribution(
    docs: DataFrame, n_buckets: int, gram_n: int = 2
) -> DataFrame:
    """(bucket, n) gram-occurrence counts of ``docs.text`` —
    ``n_buckets``-row aggregate."""
    return (
        docs.select(
            F.explode(gram_buckets(F.col("text"), n_buckets, gram_n)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    gram_n: int = 2,
) -> DataFrame:
    """(doc_id, n_grams, log_weight) for every raw ``(doc_id, text)`` document with at
    least one gram (zero-gram docs have no distribution evidence and no
    output row); log_weight rounded to 6 decimals.

    log_weight = sum over the doc's gram buckets of
    ln( ((t_b + 1) / (T + B)) / ((r_b + 1) / (R + B)) ), add-one
    smoothed so unseen buckets are defined. Positive = more target-like
    than the raw average. Selection = order by log_weight (descending)
    and keep the head, or threshold at 0.

    Size ``n_buckets`` well below the TARGET sample's gram count: the
    smoothing adds B pseudo-counts per side, so B >> T flattens the
    target distribution and drowns its signal. The 4096 default assumes
    corpus-scale gram counts; shrink it for small pilot samples.
    """
    from pyspark.sql.window import Window

    t_dist = bucket_distribution(target, n_buckets, gram_n)
    r_dist = bucket_distribution(raw, n_buckets, gram_n)
    # merge the two aggregate-sized tables; the corpus gram totals come
    # from an unpartitioned window over the SAME merged frame — a
    # separate totals agg + join-back would re-plan both distribution
    # subtrees (and re-scan both corpora) once per consumer
    merged = (
        r_dist.withColumnRenamed("n", "r_n")
        .join(t_dist.withColumnRenamed("n", "t_n"), "bucket", "full")
        .select(
            "bucket",
            F.coalesce("r_n", F.lit(0)).alias("r_n"),
            F.coalesce("t_n", F.lit(0)).alias("t_n"),
        )
    )
    w_all = Window.partitionBy()
    r_total = F.sum("r_n").over(w_all)
    t_total = F.sum("t_n").over(w_all)
    log_ratio = F.log(
        (F.col("t_n") + 1) / (t_total + F.lit(n_buckets))
    ) - F.log((F.col("r_n") + 1) / (r_total + F.lit(n_buckets)))
    ratios = merged.select("bucket", log_ratio.alias("log_ratio"))

    per_gram = raw.select(
        F.col("doc_id"),
        F.explode(gram_buckets(F.col("text"), n_buckets, gram_n)).alias(
            "bucket"
        ),
    )
    return (
        per_gram.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("log_ratio"), 6).alias("log_weight"),
        )
    )


def score_percentile_gate(
    scored: DataFrame,
    score_col: str,
    group_col: str,
    keep_frac: float = 0.75,
    ascending: bool = True,
) -> DataFrame:
    """Per-group percentile gate: keep each group's best ``keep_frac``
    slice by ``score_col`` (``ascending=True`` keeps the LOWEST scores —
    the perplexity-filtering convention, where low LM cross-entropy means
    natural text). This is the CCNet/Gopher-style per-domain quality cut:
    thresholding per GROUP instead of globally is what keeps a single
    easy domain from crowding out every hard one.

    Emits the input columns plus ``pctl`` (the row's percent_rank within
    its group, rounded). A row is kept iff ``pctl <= keep_frac``;
    percent_rank is exact integer-rank arithmetic — (rank-1)/(n-1), ties
    share a rank — so the cut is reproducible bit-for-bit in any SQL
    engine, with none of the interpolated-quantile float-boundary risk.

    Scale shape: ONE window, partitioned by the group — parallel across
    groups (domain taxonomies run dozens to thousands of partitions). A
    single colossal group sorts in one task; the bucketed-rank idiom
    that spreads one ordering over many tasks is
    ``operators.windows.two_phase_global_rank`` (and :func:`budget_fill`).
    """
    order = F.asc(score_col) if ascending else F.desc(score_col)
    w = Window.partitionBy(group_col).orderBy(order)
    return (
        scored.withColumn(
            "pctl", F.round(F.percent_rank().over(w), 6)
        )
        .filter(F.col("pctl") <= keep_frac)
    )


def doremi_mixture_weights(
    scored: DataFrame,
    domain_col: str,
    excess_col: str,
    eta: float = 1.0,
    smoothing: float = 0.1,
) -> DataFrame:
    """Excess-loss-driven domain reweighting — the one-step DoReMi
    update (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds
    Up Language Model Pretraining"): domains where the proxy model's
    loss exceeds the reference model's (positive EXCESS loss — still
    learnable, not yet memorized, not noise) get up-weighted by
    multiplicative weights, then the distribution is smoothed toward
    uniform.

    Input: one row per document with its domain and clipped excess loss
    (``max(0, proxy_loss - reference_loss)``); this engine's stand-in
    proxy/reference pair is the unigram vs bigram LM (the bigram's
    context captures what a stronger model has learned; the gap is the
    learnability signal). Output: one row per domain,
    ``(domain, n_docs, avg_excess, weight)`` where

        weight = (1 - smoothing) * softmax(eta * avg_excess)
                 + smoothing / n_domains

    — exactly the paper's update from a uniform initialization with the
    per-step normalization, computed once over STATIC per-document
    scores (the full algorithm re-scores between steps as the proxy
    trains; with static scores further steps are equivalent to a larger
    ``eta``, so one step is the complete data-engine form). Feed the
    weights into :func:`~.sampling.mixture_sample` /
    :func:`~.sampling.temperature_mixture_rates`-style rate planning to
    materialize the blend.

    Scale shape: ONE groupBy(domain) aggregate over the corpus-sized
    score frame (map-side partial combine), then softmax/smoothing as
    unpartitioned windows over the DOMAIN-sized table only. Weights
    round to 6 dp for cross-engine replay (DuckDB-oracle-
    checked)."""
    per_domain = scored.groupBy(
        F.col(domain_col).alias("domain")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg(excess_col), 6).alias("avg_excess"),
    )
    w_all = Window.partitionBy()
    expw = F.exp(F.lit(float(eta)) * F.col("avg_excess"))
    softmax = expw / F.sum(expw).over(w_all)
    k = F.count(F.lit(1)).over(w_all)
    weight = (
        F.lit(1.0 - float(smoothing)) * softmax
        + F.lit(float(smoothing)) / k
    )
    return per_domain.select(
        "domain",
        "n_docs",
        "avg_excess",
        F.round(weight, 6).alias("weight"),
    )


def mad_outlier_stats(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust-outlier profile via the median absolute
    deviation: ``(group..., median, mad, cutoff, n, n_outliers,
    outlier_rate)`` where ``cutoff = k * 1.4826 * mad`` (1.4826 scales
    MAD to the stddev of a normal) and a row is an outlier iff
    ``|x - median| > cutoff``. Mean/stddev z-scores break down exactly
    when outliers are present (the outliers inflate the stddev that is
    supposed to flag them); median/MAD have a 50% breakdown point, which
    is why robust gates want them.

    Two grouped aggregates over two scans: medians first (exact
    interpolated percentile per group), broadcast back (group cardinality
    is taxonomy-sized), then deviations + the MAD + the flag count in one
    pass. The exact per-group percentile buffers values within each
    group — domain-sized groups at 100 TB swap in the histogram sketch
    (sketches.histogram_quantiles) or the bucketed-rank idiom of
    score_percentile_gate; the composition is unchanged.
    """
    gcols = [F.col(c) for c in group_cols]
    v = F.col(value_col).cast("double")
    med = df.groupBy(*gcols).agg(
        F.percentile(v, F.lit(0.5)).alias("__med")
    )
    dev = df.join(F.broadcast(med), list(group_cols)).select(
        *gcols, v.alias("__x"), F.col("__med"),
        F.abs(v - F.col("__med")).alias("__ad"),
    )
    mad = dev.groupBy(*gcols).agg(
        F.percentile(F.col("__ad"), F.lit(0.5)).alias("__mad")
    )
    flag = (
        dev.join(F.broadcast(mad), list(group_cols))
        .select(
            *gcols,
            "__med",
            "__mad",
            (
                F.col("__ad") > F.lit(k * 1.4826) * F.col("__mad")
            ).cast("int").alias("__out"),
        )
        .groupBy(*gcols)
        .agg(
            F.round(F.max("__med"), 6).alias("median"),
            F.round(F.max("__mad"), 6).alias("mad"),
            F.round(F.lit(k * 1.4826) * F.max("__mad"), 6).alias(
                "cutoff"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__out").cast("bigint").alias("n_outliers"),
            F.round(F.avg(F.col("__out").cast("double")), 6).alias(
                "outlier_rate"
            ),
        )
    )
    return flag


def exp_decay_weight(
    ts_ns: Column,
    ref_ns: Column,
    half_life_days: float,
) -> Column:
    """Exponential freshness weight ``0.5 ** (age_days / half_life)``
    for recency-weighted curation — stale training data should count
    less, and a hard recency cutoff is just this weight's limit. Pure
    codegen arithmetic on int64 epoch-nanos (the engine's canonical
    event time): age in days as an exact integer-difference divide,
    then a rounded power so both engines weight identical doubles.
    Compose with any aggregate: ``F.sum(value * exp_decay_weight(...))``.
    """
    age_days = (ref_ns - ts_ns).cast("double") / F.lit(86400.0 * 1e9)
    return F.round(
        F.pow(F.lit(0.5), age_days / F.lit(float(half_life_days))), 8
    )
