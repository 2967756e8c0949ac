"""Poisson-bootstrap confidence intervals — the resampling method that
actually distributes: classical bootstrap resampling draws n rows WITH
replacement per replicate, which requires global coordination (every
draw needs to know n); the Poisson bootstrap (Chamandy et al. 2012,
"Estimating Uncertainty for Massive Data Streams") gives each row an
INDEPENDENT Poisson(1) replication count per replicate, which is
row-local, streaming-friendly, and asymptotically equivalent. One pass
computes every replicate's statistic: explode B replicate ids per row,
weight by the Poisson draw, aggregate per replicate — the exchange
carries B partial sums per partition, never resampled data.

Determinism (the house contract): the Poisson draw is NOT random — each
(replicate, row-key) pair reads a hex chunk of an md5 digest as a
uniform (one digest serves ``PER_DIGEST`` replicates — the hash is the
whole data-proportional cost), inverted through the Poisson(1) CDF as a
literal threshold ladder, so both engines replay identical counts.
Replicate means are rounded before the quantile step, absorbing
summation-order noise.

Extends the reference's point-estimate-only metrics (means in
results_analysis.py carry no uncertainty) with the error bars a
corpus-scale report needs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "poisson_count_expr",
    "bootstrap_mean_ci",
    "bootstrap_delta_ci",
    "jackknife_se",
]

# Poisson(1) CDF thresholds for k = 0..3 (9 dp literals — identical
# constants on both engines); u >= the last threshold draws k = 4,
# truncating a tail of total mass ~0.004 (bias far below CI resolution)
_POISSON1_CDF = [
    round(math.exp(-1) * s, 9)
    for s in (1.0, 2.0, 2.5, 2.0 + 2.0 / 3.0)
]


def poisson_count_expr(u: Column) -> Column:
    """Map a uniform in [0, 1) to a Poisson(1) count via the literal
    CDF ladder (k = 0..4, tail truncated at 4)."""
    c0, c1, c2, c3 = _POISSON1_CDF
    return (
        F.when(u < c0, 0)
        .when(u < c1, 1)
        .when(u < c2, 2)
        .when(u < c3, 3)
        .otherwise(4)
    )


def poisson_cdf_sql(u_expr: str) -> str:
    """The same ladder as DuckDB SQL, for oracle construction."""
    c0, c1, c2, c3 = _POISSON1_CDF
    return (
        f"CASE WHEN {u_expr} < {c0} THEN 0 WHEN {u_expr} < {c1} THEN 1 "
        f"WHEN {u_expr} < {c2} THEN 2 WHEN {u_expr} < {c3} THEN 3 "
        f"ELSE 4 END"
    )


# DIGEST ECONOMY: one md5 yields 32 hex chars; at PER_DIGEST replicates
# per digest each replicate reads a (32 // PER_DIGEST)-hex chunk as its
# uniform. 8 per digest (4-hex = 16-bit uniforms) halves both the md5
# calls per row AND the digest payload the explode carries vs the
# original 4-per (measured ~15% end-to-end at sf0.1, and it is the
# data-proportional term the scaling table sees). A 16-bit uniform
# quantizes the Poisson CDF thresholds at 1/65536 ~ 1.5e-5 — four
# orders of magnitude below CI resolution, far under the ladder's own
# truncated tail mass (~0.004).
PER_DIGEST = 8


def _chunk_uniform(n_hashes: int, per: int) -> Column:
    """The uniform for exploded replicate ``__b`` from digest columns
    ``__h0..``: pick the digest, slice this replicate's hex chunk,
    hex-parse, scale to [0, 1)."""
    width = 32 // per
    chunk = F.element_at(
        F.array(*[F.col(f"__h{h}") for h in range(n_hashes)]),
        F.floor((F.col("__b") - 1) / per).cast("int") + 1,
    ).substr(((F.col("__b") - 1) % per) * width + 1, F.lit(width))
    return F.conv(chunk, 16, 10).cast("bigint") / F.lit(float(16 ** width))


def _replicate_means(
    base: DataFrame, keys: list[str], salt: str, n_replicates: int
) -> DataFrame:
    """Per (``keys``, replicate ``__b``) group of ``base``'s
    ``(__x, __k, *keys)`` rows: the Poisson(1)-weighted mean ``__m``
    (8 dp), the row count ``__n`` and the plain mean ``__mean`` (6 dp),
    from one explode(B) pass."""
    # HASH ECONOMY (see PER_DIGEST): B replicates need ceil(B/PER_DIGEST)
    # digests per row, not B. The digests are materialized as columns
    # BEFORE the explode, so each is computed once per input row
    # (exploded rows reference the value); per replicate the draw is a
    # substring + hex-parse of the right chunk. At B=32 this is 4 md5
    # calls/row instead of 32 — the hash is the whole data-proportional
    # cost here (a columnar 2B-aggregate variant AND a k-array
    # pre-explode variant were both measured SLOWER: the wide expression
    # trees fall out of whole-stage codegen — 15.5 s vs 2.3 s for the
    # k-array form at sf0.1).
    per = PER_DIGEST
    n_hashes = (int(n_replicates) + per - 1) // per
    hcols = [
        F.md5(F.concat(F.lit(f"{salt}{h}#"), F.col("__k"))).alias(f"__h{h}")
        for h in range(n_hashes)
    ]
    pre = base.select("__x", *keys, *hcols)
    exploded = pre.select(
        "__x",
        *keys,
        F.explode(F.sequence(F.lit(1), F.lit(int(n_replicates)))).alias(
            "__b"
        ),
        *[F.col(f"__h{h}") for h in range(n_hashes)],
    )
    k = poisson_count_expr(_chunk_uniform(n_hashes, per)).cast("double")
    return (
        exploded.select(
            *keys,
            "__b",
            "__x",
            (k * F.col("__x")).alias("__kx"),
            k.alias("__kw"),
        )
        .groupBy(*keys, "__b")
        .agg(
            # a replicate over a TINY sample can draw k=0 everywhere;
            # null its mean out (percentile and the count skip nulls)
            # instead of tripping ANSI divide-by-zero
            F.round(
                F.sum("__kx") / F.when(F.sum("__kw") > 0, F.sum("__kw")),
                8,
            ).alias("__m"),
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.round(F.avg("__x"), 6).alias("__mean"),
        )
    )


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key: Column,
    n_replicates: int = 32,
    level: float = 0.95,
    salt: str = "boot",
) -> DataFrame:
    """Percentile-bootstrap CI for the mean of ``value_col``: ONE row
    ``(n, mean, ci_lo, ci_hi, n_replicates)``. Each replicate's weighted
    mean is ``sum(k * x) / sum(k)`` with ``k`` the deterministic
    Poisson(1) draw for (replicate, key); the CI is the exact
    interpolated percentile pair over the ``n_replicates`` rounded
    replicate means. Cost: one explode(B) pass — the shuffle carries
    B partial (sum, count) pairs per partition.
    """
    v = F.col(value_col).cast("double")
    base = df.select(v.alias("__x"), key.cast("string").alias("__k"))
    # ONE pass for replicates AND point stats (a separate point-estimate
    # branch would be a second full execution of the source scan,
    # crossJoined back at the end). Every replicate group contains
    # every base row, so the unweighted (n, mean) ride the same
    # per-replicate aggregate — read off replicate 1's group in the
    # final one-row rollup. Summation order inside a group differs from
    # the old global agg only by partial-combine grouping, the same
    # reassociation noise the 6-dp rounding already absorbs cross-engine.
    reps = _replicate_means(base, [], salt, n_replicates)
    alpha = (1.0 - level) / 2.0
    return reps.agg(
        # coalesce keeps the empty-input contract: the old
        # count(1)-over-nothing was 0, and max-over-no-rows is NULL
        F.coalesce(
            F.max(F.when(F.col("__b") == 1, F.col("__n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n"),
        F.max(F.when(F.col("__b") == 1, F.col("__mean"))).alias("mean"),
        F.round(F.percentile(F.col("__m"), F.lit(alpha)), 6).alias(
            "ci_lo"
        ),
        F.round(
            F.percentile(F.col("__m"), F.lit(1.0 - alpha)), 6
        ).alias("ci_hi"),
        F.count("__m").cast("bigint").alias("n_replicates"),
    ).select("n", "mean", "ci_lo", "ci_hi", "n_replicates")


def bootstrap_delta_ci(
    df: DataFrame,
    value_col: str,
    key: Column,
    variant_col: str,
    variant_a: str,
    variant_b: str,
    n_replicates: int = 32,
) -> DataFrame:
    """Two-sample (A/B) uncertainty: percentile-bootstrap CI for the
    difference of means ``mean(B) - mean(A)`` — ONE row ``(n_a, n_b,
    mean_a, mean_b, delta, ci_lo, ci_hi, n_replicates)``. The question a
    point delta can't answer — "is this lift real?" — reads directly
    off whether the CI crosses zero.

    Same execution shape as :func:`bootstrap_mean_ci` (chunked md5
    draws, one explode(B) pass), with the per-replicate aggregate keyed
    by replicate and the two variants' sums split CONDITIONALLY inside
    each replicate group — the old (variant, replicate) keying needed a
    B-row self-join whose two filter branches re-executed the whole
    explode pipeline once each, and a third full pass computed the
    point stats; now replicates, deltas and point stats
    all come out of one pass and one one-row rollup. Each row keeps its
    own Poisson draw independent of its variant, which is exactly the
    two-sample bootstrap's independence requirement.
    """
    v = F.col(value_col).cast("double")
    base = df.select(
        v.alias("__x"),
        key.cast("string").alias("__k"),
        F.col(variant_col).alias("__g"),
    ).where(F.col("__g").isin([variant_a, variant_b]))
    # per-(variant, replicate) cells keep the per-exploded-row aggregate
    # work to plain sums (conditional per-variant splitting happens in
    # the tiny 2B-cell aggregate below, not per row); the point stats
    # (count, mean) ride the same cells, so the old separate full-scan
    # point branch is gone
    reps = _replicate_means(base, ["__g"], "boot", n_replicates)
    # variant split WITHOUT the old B-row self-join: its two filter
    # branches each re-planned the replicate subtree (exchange-reused,
    # but still two aggregate stages and a join), and a missing variant
    # silently dropped replicates; one grouped conditional aggregate
    # over the 2B cells does the same pairing in place
    is_a = F.col("__g") == variant_a
    is_b = F.col("__g") == variant_b
    byb = (
        reps.groupBy("__b")
        .agg(
            F.max(F.when(is_a, F.col("__m"))).alias("__ma"),
            F.max(F.when(is_b, F.col("__m"))).alias("__mb"),
            F.max(F.when(is_a, F.col("__n"))).alias("__na"),
            F.max(F.when(is_b, F.col("__n"))).alias("__nb"),
            F.max(F.when(is_a, F.col("__mean"))).alias("__meana"),
            F.max(F.when(is_b, F.col("__mean"))).alias("__meanb"),
        )
        .withColumn(
            "__d", F.round(F.col("__mb") - F.col("__ma"), 8)
        )
    )
    alpha = (1.0 - 0.95) / 2.0
    first = F.col("__b") == 1

    def _count(col: str) -> Column:
        # empty input -> NULL (the old global agg over nothing); a
        # PRESENT corpus with an absent variant -> 0 (the old
        # sum(when(..., 1).otherwise(0)))
        return (
            F.when(
                F.count(F.lit(1)) > 0,
                F.coalesce(F.max(F.when(first, F.col(col))), F.lit(0)),
            )
            .cast("bigint")
        )

    mean_a = F.max(F.when(first, F.col("__meana")))
    mean_b = F.max(F.when(first, F.col("__meanb")))
    return byb.agg(
        _count("__na").alias("n_a"),
        _count("__nb").alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.round(mean_b - mean_a, 6).alias("delta"),
        F.round(F.percentile(F.col("__d"), F.lit(alpha)), 6).alias(
            "ci_lo"
        ),
        F.round(
            F.percentile(F.col("__d"), F.lit(1.0 - alpha)), 6
        ).alias("ci_hi"),
        F.count("__d").cast("bigint").alias("n_replicates"),
    ).select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "delta",
        "ci_lo",
        "ci_hi",
        "n_replicates",
    )


def jackknife_se(
    df: DataFrame,
    value_col: str,
    key: Column,
    n_groups: int = 32,
    salt: str = "jk",
) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of the mean (the
    block-jackknife of survey statistics): hash rows into ``n_groups``
    deterministic shards, form the g leave-one-shard-out means from the
    per-shard (sum, count) sufficient statistics, and report

        SE = sqrt( (g-1)/g * sum_g (theta_(g) - theta_bar)^2 ).

    The bias-robust companion to ``bootstrap_mean_ci``: one pass, no
    replicate draws, and the delete-a-GROUP form stays honest under
    within-shard dependence (rows sharing a hash shard drop out
    together). Returns ONE row ``(n, n_groups, mean, jackknife_se)``.

    ONE grouped aggregate to the shard grain (g rows); everything after
    is window arithmetic over the shard frame. Per-shard sums and each
    leave-one-out mean are rounded to 8 dp for oracle replay.
    """
    from pyspark.sql.window import Window

    from fireball_data_processing_spark.operators.sampling import hash_rank

    g = F.floor(hash_rank(key, salt) * n_groups).cast("bigint")
    shards = (
        df.select(
            g.alias("__shard"), F.col(value_col).cast("double").alias("__v")
        )
        .groupBy("__shard")
        .agg(
            F.round(F.sum("__v"), 8).alias("__s"),
            F.count(F.lit(1)).cast("bigint").alias("__n"),
        )
    )
    w = Window.partitionBy()
    S = F.sum("__s").over(w)
    N = F.sum("__n").over(w)
    G = F.count(F.lit(1)).over(w).cast("double")
    loo = shards.select(
        "__shard",
        S.alias("__S"),
        N.alias("__N"),
        G.alias("__ng"),
        F.round(
            (S - F.col("__s")) / (N - F.col("__n")).cast("double"), 8
        ).alias("__theta"),
    )
    w2 = Window.partitionBy()
    tbar = F.avg("__theta").over(w2)
    scored = loo.select(
        "__S",
        "__N",
        "__ng",
        "__theta",
        F.round(tbar, 8).alias("__tbar"),
    )
    dev = F.col("__theta") - F.col("__tbar")
    return scored.agg(
        F.max("__N").alias("__n"),
        F.max("__ng").alias("__g2"),
        F.max("__S").alias("__s2"),
        F.round(
            F.sqrt(
                (F.max("__ng") - 1.0) / F.max("__ng") * F.sum(dev * dev)
            ),
            6,
        ).alias("jackknife_se"),
    ).select(
        F.col("__n").alias("n"),
        F.col("__g2").cast("bigint").alias("n_groups"),
        F.round(F.col("__s2") / F.col("__n").cast("double"), 6).alias(
            "mean"
        ),
        "jackknife_se",
    )
