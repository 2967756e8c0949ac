"""Distributed k-means clustering over embedding columns (Lloyd's
algorithm), the corpus-organization primitive the published semantic
curation recipes start from: SemDeDup (Abbas et al. 2023) clusters the
corpus with k-means FIRST and dedups within clusters; D4 / SSL-prototypes
do the same for diversity selection. The engine's
:func:`..similarity.semantic_dedup` uses sign-LSH buckets as its
partition; this module supplies the k-means partition for pipelines that
want the paper-faithful shape.

Extends the reference's embedding surface (``embed_findings.py`` stores
vectors; it never clusters them) with the standard corpus primitive.

Scale design (the classic Spark k-means shape, same as MLlib's):

- **Centroids are tiny; points are huge.** Each Lloyd iteration collects
  the k×dim centroid table to the driver (k-sized, bounded — the house
  bounded-collect idiom) and re-enters it as a LITERAL array, so
  assignment is a pure per-row projection: no join, no shuffle, fully
  codegen. The only shuffle per iteration is the k×dim-row centroid
  recompute aggregate (map-side partial combine does almost all the
  work).
- **Argmin without lambda re-evaluation**: distances materialize as an
  ``array<struct<dist,cid>>`` via one ``transform``, then ``array_min``
  picks the (dist, cid)-lexicographic minimum — deterministic tie-break
  by cluster id, and the distance expression is evaluated exactly once
  per centroid (HOF lambda bodies get no subexpression elimination — the
  winnowing lesson, see functions/textstats.py).
- **Cross-engine reproducibility**: distances accumulate sequentially in
  array order via ``aggregate`` (same fold order as DuckDB's
  ``list_sum``), and recomputed centroids are ROUNDED to ``round_dp``
  decimals each iteration — identical inputs to the next iteration's
  distance math in any engine, so an exact SQL oracle can replay the
  unrolled iterations. Rounding k×dim centroid coordinates perturbs the
  clustering immeasurably and is part of the operator contract.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "kcenter_fit",
    "kmeans_assign",
    "kmeans_fit",
    "kmeans_summary",
    "nearest_centroid_expr",
]


# ---------------------------------------------------------------------
# SQL-text expression builders — the plan-construction fast path.
#
# Classic PySpark builds every Column node through a py4j round-trip
# (~0.4 ms each), and higher-order-function lambdas cost dozens of
# round-trips apiece — profiling the IVFPQ query showed ~2.5 s of a
# 3 s plan build spent on 12k+ py4j socket calls, all data-invariant
# overhead. These builders render the SAME expressions as SQL text and
# parse them JVM-side in ONE ``F.expr`` call (the ``_matrix_literal``
# idiom from operators/similarity.py, generalized from literals to the
# full lambda tree). Values are bit-identical: ``repr(float)`` is the
# shortest round-trip decimal and Spark parses double literals with
# correctly-rounded ``Double.parseDouble``; the ``D`` suffix pins
# DOUBLE (a bare decimal literal would parse as DECIMAL). Each builder
# defines lambda variables under its own prefix (``nc_``/``np_``), so
# embedded fragments can never be captured by an inner scope.
# ---------------------------------------------------------------------


def _double_sql(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal, bit-identical to ``F.lit(x)``."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite value in SQL literal: {x!r}")
    return repr(x) + "D"


def _vec_sql(vec: list[float]) -> str:
    """``array<double>`` literal text."""
    return "array(" + ",".join(_double_sql(x) for x in vec) + ")"


def _ident_sql(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _cast_vec_sql(vec_col: str) -> str:
    """The standard vector input fragment: column cast to array<double>."""
    return f"cast({_ident_sql(vec_col)} as array<double>)"


def _centroid_literal_sql(centroids: list[tuple[int, list[float]]]) -> str:
    """``array<struct<cid:int, v:array<double>>>`` literal text — the
    text twin of :func:`_centroid_literal`."""
    return (
        "array("
        + ",".join(
            f"named_struct('cid',{int(cid)},'v',{_vec_sql(v)})"
            for cid, v in centroids
        )
        + ")"
    )


def _dist2_sql(a: str, b: str) -> str:
    """Squared-L2 text twin of :func:`_dist2` — same sequential fold.
    ``a``/``b`` are spliced outside the lambda bodies, so their
    variable references cannot be shadowed."""
    return (
        f"aggregate(zip_with({a},{b},(x,y)->(x-y)*(x-y)),"
        "0.0D,(acc,z)->acc+z)"
    )


def nearest_centroid_sql(
    centroids: list[tuple[int, list[float]]], vec_sql: str
) -> str:
    """Text twin of :func:`nearest_centroid_expr` over a SQL fragment:
    same bind-once wrapper, same (dist2, cid) struct-lexicographic
    ``array_min``, same field names."""
    return (
        f"element_at(transform(array({vec_sql}),nc_v->array_min(transform("
        + _centroid_literal_sql(centroids)
        + ",nc_c->named_struct('d',"
        + _dist2_sql("nc_v", "nc_c.v")
        + ",'cid',nc_c.cid)))),1)"
    )


def nearest_centroids_sql(
    centroids: list[tuple[int, list[float]]], vec_sql: str, n_probe: int
) -> str:
    """The ``n_probe`` nearest centroids as ``struct<d, cid>``, nearest
    first: the same bind-once wrapper and (dist2, cid) struct order as
    :func:`nearest_centroid_sql`, sorted and sliced instead of
    ``array_min``."""
    return (
        f"element_at(transform(array({vec_sql}),np_v->slice(array_sort("
        "transform("
        + _centroid_literal_sql(centroids)
        + ",np_c->named_struct('d',"
        + _dist2_sql("np_v", "np_c.v")
        + f",'cid',np_c.cid))),1,{int(n_probe)})),1)"
    )


def _dist2(vec: Column, ctr: Column) -> Column:
    """Squared L2 distance, sequential left-to-right accumulation in
    array order (bit-reproducible across engines for identical inputs)."""
    return F.aggregate(
        F.zip_with(vec, ctr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _centroid_literal(centroids: list[tuple[int, list[float]]]) -> Column:
    """``array<struct<cid:int, v:array<double>>>`` literal from the
    driver-side centroid list (k×dim — bounded by construction)."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("v"),
            )
            for cid, vec in centroids
        ]
    )


def _bind_once(vec: Column, body) -> Column:
    """Evaluate ``vec`` ONCE per row and hand the materialized value to
    ``body`` as a lambda variable: HOF lambda bodies get no common-
    subexpression elimination (the winnowing lesson), so a COMPOSITE
    ``vec`` expression (e.g. an rp-sketch projection) referenced inside
    the per-centroid distance lambda would otherwise be recomputed k
    times per row — the inlining that previously forced callers like
    ``rp_ivf_topk`` to persist a sketch frame just to pin evaluation.
    Wrapping the value in a 1-element array and transforming binds it
    to a NamedLambdaVariable, which the inner lambdas reference instead
    of re-evaluating."""
    return F.element_at(F.transform(F.array(vec), body), 1)


def nearest_centroid_expr(
    centroids: list[tuple[int, list[float]]], vec: Column | str
) -> Column:
    """``struct<d:double, cid:int>`` of the row's nearest centroid — the
    assignment as a pure COLUMN EXPRESSION, usable anywhere a projection
    is (batch, streams, as another operator's partition key). Ties break
    to the lowest cluster id (struct-lexicographic ``array_min`` over
    (dist2, cid)); the distance expression is evaluated once per
    centroid, and ``vec`` itself once per ROW (``_bind_once``), so a
    composite vector expression never multiplies by k. ``vec`` should
    already be ``array<double>``.

    Pass ``vec`` as a SQL fragment STRING to take the O(1)-py4j text
    path (:func:`nearest_centroid_sql` — value-identical, parity-tested);
    a Column input keeps the original builder for composability."""
    if isinstance(vec, str):
        return F.expr(nearest_centroid_sql(centroids, vec))
    return _bind_once(
        vec, lambda v: F.array_min(_centroid_distances(centroids, v))
    )


def _centroid_distances(
    centroids: list[tuple[int, list[float]]], v: Column
) -> Column:
    """``array<struct<d:double, cid:int>>``: the squared distance from
    ``v`` to every centroid, in centroid-list order."""
    return F.transform(
        _centroid_literal(centroids),
        lambda c: F.struct(_dist2(v, c["v"]).alias("d"), c["cid"].alias("cid")),
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every row to its nearest centroid:
    ``(id_col, cluster_id, dist2)``. Pure projection — the centroid list
    enters as a literal, so the plan is scan → codegen, zero exchanges.
    Ties break to the lowest cluster id (struct-lexicographic
    ``array_min`` over (dist2, cid))."""
    best = nearest_centroid_expr(centroids, _cast_vec_sql(vec_col))
    return df.select(
        F.col(id_col),
        best["cid"].alias("cluster_id"),
        best["d"].alias("dist2"),
    )


def coordinate_means(exploded: DataFrame, *keys: str) -> list:
    """Collect one row per ``keys`` group whose ``__coords`` holds the
    6-dp mean of each coordinate ``(__pos, __x)`` of ``exploded``, in
    coordinate order: k×dim rows, bounded like the centroid literal they
    re-enter. ``sort_array(collect_list(struct(pos, mean)))`` rebuilds
    the order without an ORDER BY shuffle."""
    return (
        exploded.groupBy(*keys, "__pos")
        .agg(F.round(F.avg("__x"), 6).alias("__m"))
        .groupBy(*keys)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__pos", "__m"))
            ).alias("__coords")
        )
        .collect()
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Lloyd's k-means with deterministic initialization (the ``k``
    lowest-``id_col`` vectors seed clusters 0..k-1 — reproducible and
    oracle-replayable, unlike random init; production corpus runs swap in
    k-means|| seeding by passing their own centroids to
    :func:`kmeans_assign`). Runs exactly ``n_iter`` assign→recompute
    rounds, then returns ``(assignments, centroids)`` where assignments
    is the final :func:`kmeans_assign` output.

    Per iteration: one bounded k×dim collect (centroid table) + one
    aggregate shuffle (recompute); assignment itself never shuffles. An
    empty cluster keeps its previous centroid (standard Lloyd handling,
    and what the SQL replay does via the COALESCE join).
    """
    vec_sql = _cast_vec_sql(vec_col)
    # rounding happens in SQL (HALF_UP, matching DuckDB/ANSI ROUND) —
    # Python round() is banker's and would diverge on exact .5 boundaries
    seed_rows = (
        df.select(
            F.col(id_col).alias("__id"),
            F.expr(
                f"transform({vec_sql},sr_x->round(sr_x,6))"
            ).alias("__v"),
        )
        .orderBy("__id")
        .limit(k)
        .collect()
    )
    centroids = [
        (i, [float(x) for x in r["__v"]]) for i, r in enumerate(seed_rows)
    ]
    for _ in range(n_iter):
        # element-wise mean per cluster: the assignment rides in the SAME
        # projection as the vector (no join-back — assignment is a pure
        # expression)
        best = nearest_centroid_expr(centroids, vec_sql)
        means = coordinate_means(
            df.select(
                best["cid"].alias("cluster_id"),
                F.expr(vec_sql).alias("__v"),
            ).select("cluster_id", F.posexplode("__v").alias("__pos", "__x")),
            "cluster_id",
        )
        new = {
            int(r["cluster_id"]): [float(c["__m"]) for c in r["__coords"]]
            for r in means
        }
        centroids = [(cid, new.get(cid, old)) for cid, old in centroids]
    return kmeans_assign(df, centroids, vec_col, id_col), centroids


def kmeans_summary(assigned: DataFrame) -> DataFrame:
    """Per-cluster footprint: ``(cluster_id, n_points, inertia)`` with
    inertia = sum of squared distances, rounded (sum order across rows is
    engine-dependent; rounding absorbs the reassociation noise)."""
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.sum("dist2"), 6).alias("inertia"),
    )


def kcenter_fit(
    df: DataFrame,
    k: int = 5,
) -> list[tuple[int, int, float, list[float]]]:
    """Greedy k-center selection (Gonzalez's 2-approximation), the
    coreset / facility-location primitive for diversity-first data
    selection: each round picks the point FARTHEST from every center
    chosen so far, so k points cover the corpus with (provably) at most
    twice the optimal radius. Complements the density-seeking k-means
    above — k-center hunts the extremes k-means averages away, which is
    what a "cover the long tail" selection pass wants.

    Deterministic and oracle-replayable, per the house clustering
    contract: the seed is the lowest-``vec_id`` vector, the running
    min-distance column is ROUNDED to 6 dp each iteration
    (absorbing any engine float-noise before it can flip an argmax), and
    the pick tie-breaks to the lowest id via a lexicographic struct max
    over ``(dist, -id)``. Distances use the sequential-fold ``_dist2``.

    Scale shape: k-1 full-scan aggregate jobs, each reducing to ONE row
    (max-struct has map-side partial combine — the exchange carries one
    candidate per partition), and the running min-distance is a pure
    projection that re-enters each chosen center as a literal, so there
    is never a join or a per-point shuffle. The collect per round is one
    row (the new center) — the bounded-collect idiom of ``kmeans_fit``.

    Returns ``[(center_idx, id, gain, vector)]`` where ``gain`` is the
    picked point's distance to the previously chosen centers (0.0 for
    the seed) — the coverage-radius curve, monotonically nonincreasing.
    """
    vec_sql = _cast_vec_sql("embedding")
    seed = (
        df.select(F.col("vec_id").alias("__id"), F.expr(vec_sql).alias("__v"))
        .orderBy("__id")
        .limit(1)
        .collect()[0]
    )
    centers = [(0, int(seed["__id"]), 0.0, [float(x) for x in seed["__v"]])]
    # the running min-distance grows as SQL TEXT (py4j-free; the text
    # twin of round(least(md, dist2)) — identical expression tree)
    md_sql = f"round({_dist2_sql(vec_sql, _vec_sql(centers[0][3]))},6)"
    for t in range(1, k):
        pick = (
            df.select(
                F.struct(
                    F.expr(md_sql).alias("d"),
                    (-F.col("vec_id")).alias("negid"),
                    F.col("vec_id").alias("id"),
                    F.expr(vec_sql).alias("v"),
                ).alias("__cand")
            )
            .agg(F.max("__cand").alias("__best"))
            .collect()[0]["__best"]
        )
        v = [float(x) for x in pick["v"]]
        centers.append((t, int(pick["id"]), float(pick["d"]), v))
        md_sql = f"round(least({md_sql},{_dist2_sql(vec_sql, _vec_sql(v))}),6)"
    return centers
