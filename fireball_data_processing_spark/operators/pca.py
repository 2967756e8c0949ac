"""Distributed PCA by power iteration over an embedding column: the top
principal component of the (mean-centered) vector corpus, WITHOUT ever
materializing the d x d covariance matrix — each iteration computes the
per-row projection ``s = (x - mu) . v`` as a single array left-fold and
one d-bucket aggregate of ``sum((x - mu)_i * s)``, i.e. the matvec
``S v`` against the scatter matrix folded into a single
partial-combining pass.

Why it belongs in the curation engine: the top component is the
dominant axis of embedding variance — the "is this corpus one blob or
two?" diagnostic behind semantic-dedup/cluster quality, the whitening
direction ANN quantizers remove first, and (via the variance share) a
one-number answer to "how anisotropic are these embeddings?".

Execution contract (the kmeans shape, operators/clustering.py): model
state (mu, v — d floats each) is collected to the driver per iteration
(a BOUNDED d-sized collect, the sanctioned exception to the zero-collect
policy) and re-enters the next step as an array literal. Every
aggregate and every derived scalar is rounded to ``round_dp``, so an
unrolled SQL oracle (dim-exploded joins — same arithmetic, different
shape) replays the trajectory exactly.

Fit-floor design: the first cut kept the centered vector
as d SEPARATE double columns so every expression stayed in wide
codegen — correct, but each of the 8 sequential driver jobs spent
~1.5 s in CATALYST ANALYSIS of 64-column expression trees (measured:
execution on the cached frame was milliseconds; the per-iteration floor
was pure driver-side plan work, invariant under codegen caching).
The representation is now ONE ``array<double>`` column:

- the centered corpus is materialized ONCE into a persisted frame
  (n x d doubles, MEMORY_AND_DISK — the standard
  iterate-over-cached-projection trade, freed on exit);
- the per-row projection is ``aggregate(zip_with(c, v, *), 0, +)`` —
  the exact left-fold ``((0 + c_0 v_0) + c_1 v_1) + ...`` the
  column-form ``sum()`` generated, so per-row doubles are unchanged;
- the matvec aggregate is ``posexplode`` + ``groupBy(dim)`` — d-fold
  row inflation on the CACHED tiny frame, map-side combined to d rows
  per partition before the exchange, and the sum per dim is the same
  term set as the d-column aggregate (partial-sum order differs; the
  ``round_dp`` rounding absorbs reassociation noise — the identical
  contract the dim-exploded DuckDB oracle already relies on);
- plan trees per iteration are now ~5 expressions, so the 6 power
  steps cost ~0.2 s each instead of ~1.5 s.

Scale: ONE source scan for the mean plus ONE materializing scan that
caches the centered projection; the remaining power steps iterate over
the cache, each exchange carrying d partial sums per partition.
Deterministic start ``v0 = (1/sqrt(d), ...)``; convergence to the top
eigenvector needs v0 not orthogonal to it — all-positive v0 is safe
for real corpora and the trajectory is engine-replayed regardless.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.rounding import spark_round

__all__ = [
    "pca_fit",
    "pca_project_expr",
    "power_iteration_pca",
]


def _centered_expr(vec_col: str, mu: list[float]) -> Column:
    """``x - mu`` as one array<double> expression (mu as array literal).
    The vector is SLICED to ``len(mu)`` first: callers may pass a dim
    smaller than the stored vectors (the column form indexed only the
    leading dim coordinates; posexplode over the raw array would
    instead emit out-of-range positions and crash the d-sized driver
    buffers)."""
    xd = F.transform(
        F.slice(F.col(vec_col), 1, len(mu)), lambda e: e.cast("double")
    )
    return F.zip_with(xd, F.lit(mu), lambda a, b: a - b)


def _mean(df: DataFrame, vec_col: str, dim: int, round_dp: int) -> list[float]:
    """Per-dimension rounded mean via ONE posexplode aggregate (d-bucket
    groupBy with map-side combine — one source scan, d output rows).
    Slices to the leading ``dim`` coordinates (see _centered_expr)."""
    xd = F.transform(
        F.slice(F.col(vec_col), 1, dim), lambda e: e.cast("double")
    )
    rows = (
        df.select(F.posexplode(xd).alias("__i", "__x"))
        .groupBy("__i")
        .agg(F.round(F.avg("__x"), round_dp).alias("__m"))
        .collect()  # bounded: d rows
    )
    mu = [0.0] * dim
    for r in rows:
        mu[r["__i"]] = r["__m"]
    return mu


def pca_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 6,
) -> tuple[list[float], list[float], float, float]:
    """Fit the top component and return the bounded model state as
    plain lists — ``(mu, v, nrm, total_scatter)`` — for callers that
    project with :func:`pca_project_expr` (the centroid-literal pattern
    of operators/clustering.py: model re-enters the plan as codegen
    constants, so projection adds ZERO joins/exchanges)."""
    mu = _mean(df, vec_col, dim, 8)
    v, nrm, total = _component(df, _centered_expr(vec_col, mu), dim, n_iter, 8)
    return mu, v, nrm, total


def pca_project_expr(vec_col: str, mu: list[float], v: list[float]):
    """The projection ``(x - mu) . v`` as a single codegen Column —
    literal model state, no joins. Rounded to 8 dp so an
    oracle's join-form projection reproduces it."""
    dim = len(mu)
    x = [F.col(vec_col)[i].cast("double") for i in range(dim)]
    return F.round(
        sum(
            ((x[i] - F.lit(mu[i])) * F.lit(v[i]) for i in range(dim)),
            F.lit(0.0),
        ),
        8,
    )


def _component(df, carr, dim, n_iter, round_dp):
    """One power-iteration component over the centered array expression
    ``carr``: returns (loading list, ||S v|| norm, total scatter), every
    value ``round_dp``-rounded. See the module docstring for the
    representation and rounding contract."""
    base = df.select(carr.alias("__c")).persist()
    try:
        # per-row left-fold sum(c_i^2) and a single Spark sum; this action
        # also materializes the cache the power steps iterate over
        total = base.agg(
            F.round(
                F.sum(
                    F.aggregate(
                        "__c",
                        F.lit(0.0),
                        lambda acc, e: acc + e * e,
                    )
                ),
                round_dp,
            ).alias("__tot")
        ).first()["__tot"]
        v = [spark_round(1.0 / math.sqrt(dim), round_dp)] * dim
        nrm = None
        for _ in range(n_iter):
            s = F.round(
                F.aggregate(
                    F.zip_with("__c", F.lit(v), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, e: acc + e,
                ),
                round_dp,
            )
            u_rows = (
                base.withColumn("__s", s)
                .select("__s", F.posexplode("__c").alias("__i", "__ci"))
                .groupBy("__i")
                .agg(
                    F.round(F.sum(F.col("__ci") * F.col("__s")), round_dp).alias(
                        "__u"
                    )
                )
                .collect()  # bounded: d rows
            )
            u = [0.0] * dim
            for r in u_rows:
                u[r["__i"]] = r["__u"]
            nrm = spark_round(math.sqrt(sum(ui * ui for ui in u)), round_dp)
            if nrm == 0.0:
                raise ValueError(
                    "power iteration collapsed: S v = 0 (zero-variance "
                    "corpus, or start vector orthogonal to every "
                    "eigenvector after rounding)"
                )
            v = [spark_round(ui / nrm, round_dp) for ui in u]
    finally:
        base.unpersist()
    return v, nrm, total


def power_iteration_pca(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 6,
) -> DataFrame:
    """Top principal component of ``vec_col`` (array<float/double>,
    ``dim`` entries). Returns ``dim`` rows
    ``(dim, loading, eigenvalue, var_share)`` with rows emitted in
    1-based dim order (order-by-construction: the local relation is
    built dim-ascending and the plan carries no sort):
    the unit loading vector after ``n_iter`` scatter-matrix power
    steps, the scatter eigenvalue estimate ``||S v||`` of the final
    step, and its share of total scatter (= fraction of embedding
    variance the component explains)."""
    mu = _mean(df, vec_col, dim, 8)
    v, nrm, total_scatter = _component(
        df, _centered_expr(vec_col, mu), dim, n_iter, 8
    )

    spark = df.sparkSession
    rows = [
        (i + 1, spark_round(v[i], 6))
        for i in range(dim)
    ]
    # rows are built dim-ascending — already in output order, so no
    # orderBy() (a sort would spend a range-exchange job on d rows)
    out = spark.createDataFrame(rows, "dim bigint, loading double")
    return out.select(
        "dim",
        "loading",
        F.lit(spark_round(nrm, 6)).alias("eigenvalue"),
        F.lit(spark_round(nrm / total_scatter, 6)).alias("var_share"),
    )
