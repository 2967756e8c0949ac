"""Deterministic sampling, shuffling and splitting (O5/O8).

The reference shuffles with ``random.seed(42)`` and splits with sklearn's
seeded ``train_test_split`` (``finetune_prep.py:174-196``). Seeded RNG order
is engine-specific, so the distributed-friendly (and oracle-reproducible)
equivalent is **hash ordering**: rank rows by ``md5(key)``. This is stable
under repartitioning, cluster size, and retries — properties a seeded
global shuffle does not have at 100 TB — and any engine with md5
reproduces it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_rank(key: Column, salt: str = "", hex_digits: int = 8) -> Column:
    """Deterministic pseudo-random rank in [0, 1): the first ``hex_digits``
    hex digits of md5(salt || key) scaled (default 8 -> 32-bit lattice;
    12 -> 48-bit, the widest still exact in a DOUBLE's 53-bit mantissa —
    the seeded-Laplace mechanism's choice). Equivalent DuckDB SQL:
    ``('0x' || substr(md5(salt || key), 1, N))::BIGINT / 16.0^N``.
    NULL keys rank NULL (``concat``/``||`` propagate in both engines)."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, hex_digits), 16, 10).cast(
        "bigint"
    ) / F.lit(float(16**hex_digits))


def deterministic_sample(
    df: DataFrame, key: Column, n: int, salt: str = ""
) -> DataFrame:
    """Seeded-shuffle-then-head-N (O5) as hash-order + limit."""
    return (
        df.withColumn("__hr", hash_rank(key, salt))
        .orderBy(F.col("__hr"), key)
        .limit(n)
        .drop("__hr")
    )


def deterministic_split(
    df: DataFrame, key: Column, test_fraction: float, salt: str = "",
) -> DataFrame:
    """Train/test split by hashed key (O8): every row with the same key
    lands in the same split (the reference splits by instance so pairs from
    one instance never straddle train/test)."""
    return df.withColumn(
        "split",
        F.when(hash_rank(key, salt) < test_fraction, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def mixture_sample(
    df: DataFrame,
    bucket: Column,
    rates: dict[str, float],
    key: Column,
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Data-mixture construction: deterministic per-bucket downsampling.

    Training corpora are blended from sources at target proportions
    ("2 parts web, 1 part code, 0.1 parts forums"); the distributed form
    is a per-bucket keep-rate applied with the same hash-rank primitive as
    ``deterministic_split`` — stable under repartitioning/retries, no RNG
    state, reproducible by any engine with md5 (oracle-checkable). Keeps a
    row iff ``hash_rank(key, salt) < rates[bucket]`` (``default_rate`` for
    unlisted buckets); rates >= 1.0 keep everything. The rate map enters
    the plan as one literal ``map``, so the filter is codegen-resident and
    pushes down past column pruning like any scalar predicate.
    """
    if rates:
        mapping = F.create_map(
            *[F.lit(x) for k, v in rates.items() for x in (k, float(v))]
        )
        rate = F.coalesce(mapping[bucket], F.lit(float(default_rate)))
    else:
        # empty create_map() is map<void,void> and cannot be indexed
        rate = F.lit(float(default_rate))
    return df.filter(hash_rank(key, salt) < rate)


def capped_sample(
    df: DataFrame,
    bucket: Column,
    cap: int,
    key: Column,
    salt: str = "",
) -> DataFrame:
    """Per-bucket ABSOLUTE cap: keep at most ``cap`` rows per bucket,
    chosen deterministically by hash rank (ties broken by the key).

    The quota complement to :func:`mixture_sample`'s rates — the
    C4-style "no domain contributes more than N documents" rule, where
    the bound must be exact, not expected. One window (rank within
    bucket by md5 order) = one exchange on the bucket key.

    Skew note: an exact per-bucket count is inherently a per-bucket
    sort, so one hot bucket serializes onto one task. When ``cap`` is
    far below the hot bucket's size, pre-thin with
    a ``hash_rank(key) < rate`` filter at a rate that keeps
    ~4x ``cap`` of the hot bucket first (hash-threshold, scan-local,
    skew-immune), then apply the exact cap to the thinned remainder —
    the two-phase form trims the sorted volume to O(cap) per bucket.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(bucket).orderBy(hash_rank(key, salt), key)
    return (
        df.withColumn("__cap_rank", F.row_number().over(w))
        .filter(F.col("__cap_rank") <= cap)
        .drop("__cap_rank")
    )


def temperature_mixture_rates(
    df: DataFrame,
    bucket: Column,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture plan: per-bucket keep rates that
    rebalance the corpus toward ``share ** alpha`` proportions (the
    multilingual-training sampling rule — alpha=1 preserves the natural
    mix, alpha=0 forces uniform, 0<alpha<1 up-weights tail buckets).

    Returns one row per bucket: ``(bucket, n_rows, share, weight,
    keep_rate)`` where ``weight = share^alpha / sum(share^alpha)`` and
    ``keep_rate = min(1, total_rows * weight / n_rows)``. Feed the result
    into :func:`mixture_sample` (as a rate map or broadcast-joined rate
    column) to materialize the blend.

    The whole computation is aggregate-sized: one groupBy on the bucket
    plus unpartitioned windows over the bucket-count table — never the
    corpus. Rates are rounded to 6 dp so the plan is reproducible
    cross-engine (DuckDB-oracle-checkable).
    """
    from pyspark.sql import Window

    counts = df.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    w = Window.partitionBy()
    share = F.col("n_rows") / F.sum("n_rows").over(w)
    shared = counts.withColumn("share", share)
    weight = F.pow(F.col("share"), F.lit(float(alpha)))
    weighted = shared.withColumn(
        "weight", weight / F.sum(weight).over(w)
    )
    total = F.sum("n_rows").over(w)
    return weighted.select(
        "bucket",
        "n_rows",
        F.round("share", 6).alias("share"),
        F.round("weight", 6).alias("weight"),
        F.round(
            F.least(F.lit(1.0), total * F.col("weight") / F.col("n_rows")), 6
        ).alias("keep_rate"),
    )


def weighted_sample_topn(
    df: DataFrame,
    bucket: Column,
    weight: Column,
    n: int,
    key: Column,
    salt: str = "",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, per bucket: keep the ``n``
    rows with the largest ``u ** (1/w)`` where ``u`` is the row's
    deterministic :func:`hash_rank` uniform and ``w`` its weight — the
    Efraimidis–Spirakis (2006) reservoir key, under which each row's
    inclusion probability is proportional to its weight. This is the
    exact-count counterpart to weight-proportional RATE sampling: "5
    documents per source, long documents proportionally likelier" (the
    quality-weighted shard-picking recipe), where a fraction can't
    express the exact quota.

    Rows with non-positive or null weight are excluded (zero-weight
    items are never sampled, and ``1/w`` is undefined there). The ES
    key is ROUNDED to 12 dp before ordering and
    emitted as ``es_key``: ``pow`` may differ between engines in the
    last ulp, and rounding absorbs that while ties (astronomically
    rare post-rounding) break on the sampling key ascending — so the
    selection is bit-reproducible cross-engine (DuckDB-oracle-checked).

    Scale shape: the ES key is a pure scan-local expression; the only
    exchange is the per-bucket top-n window, which compiles to
    partial+final WindowGroupLimit (only n candidates per bucket per
    input partition shuffle). A colossal bucket is therefore bounded by
    n per upstream partition — no full per-bucket sort materializes.
    """
    from pyspark.sql import Window

    es = F.round(
        F.pow(hash_rank(key, salt), F.lit(1.0) / weight), 12
    )
    w = Window.partitionBy(bucket).orderBy(
        F.col("es_key").desc(), key.asc()
    )
    return (
        df.filter(weight > 0)
        .withColumn("es_key", es)
        .withColumn("__wr", F.row_number().over(w))
        .filter(F.col("__wr") <= n)
        .drop("__wr")
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    n_total: int,
) -> DataFrame:
    """Variance-optimal (Neyman) allocation of an ``n_total``-row sample
    budget across strata: ``n_h ∝ N_h * sigma_h``, the allocation that
    minimizes the variance of the stratified mean estimator — big AND
    internally-diverse strata earn more budget than big-but-uniform ones
    (proportional allocation, what a constant hash-threshold rate
    gives, ignores sigma entirely).

    Returns the per-stratum plan: ``(stratum, n_pop, sigma, share,
    n_target, rate)`` where ``share = N_h*sigma_h / sum_k N_k*sigma_k``
    (8-dp rounded for engine replay), ``n_target = floor(n_total *
    share + 0.5)`` capped at ``N_h`` (half-up on an identical double ->
    identical on every engine, unlike native ROUND whose half-rule
    differs), and ``rate = n_target / N_h`` ready to feed
    a ``hash_rank(key) < rate`` filter as its per-stratum fraction.

    ONE grouped aggregate over the data (count + stddev_pop partial-
    combine); shares/targets are window arithmetic over the |strata|-row
    stats frame. Zero-variance strata get sigma 0 and thus zero budget —
    correct under Neyman (one row tells you everything about a constant
    stratum); callers wanting a floor can clamp ``rate``.
    """
    from pyspark.sql.window import Window

    stats = (
        df.groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pop"),
            F.round(
                F.coalesce(
                    F.stddev_pop(F.col(value_col).cast("double")), F.lit(0.0)
                ),
                8,
            ).alias("sigma"),
        )
    )
    w = Window.partitionBy()
    share = F.round(
        (F.col("n_pop") * F.col("sigma"))
        / F.sum(F.col("n_pop") * F.col("sigma")).over(w),
        8,
    )
    out = stats.select("stratum", "n_pop", "sigma", share.alias("share"))
    n_target = F.least(
        F.col("n_pop"),
        F.floor(F.lit(float(n_total)) * F.col("share") + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    return out.select(
        "stratum",
        "n_pop",
        "sigma",
        "share",
        n_target.alias("n_target"),
        F.round(
            n_target.cast("double") / F.col("n_pop").cast("double"), 8
        ).alias("rate"),
    )
