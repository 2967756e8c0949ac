"""Iterative proportional fitting (raking) of corpus weights to target
marginals — the survey-statistics answer to "make this corpus LOOK like
the mix we want without dropping rows": given the observed
(row-category x col-category) counts and target shares for each margin
(e.g. source shares and language shares), IPF finds per-cell weights
whose weighted table matches BOTH margins simultaneously (Deming &
Stephan 1940). Reweighting beats resampling when downstream statistics
can consume weights: nothing is discarded, and the weights compose with
the engine's other importance weights (dedup cluster sizes, decay).

Scale design: the data-proportional work is ONE contingency aggregate;
the contingency table is BY DEFINITION aggregate-sized (|row cats| x
|col cats| cells), so the IPF loop runs driver-side on the collected
table — the bounded-collect contract of pca_fit/kmeans (model state of
known small size crosses to the driver once; per-row work never does).
A DataFrame-resident loop was tried first and rejected: each scaling
step has three consumers of the previous cell frame, so the static
plan TRIPLES per step (3^16 nodes by iteration 8 — analysis-time OOM)
unless every step checkpoints, and 16 eager checkpoints churn far more
than one 100-row collect. Python floats are IEEE doubles and the
per-step rounding goes through ``functions/rounding.spark_round``
(shortest-decimal HALF_UP — builtin ``round`` is banker's and would
diverge from an engine's ROUND at exact ties), so the unrolled SQL
oracle replays the trajectory exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.rounding import spark_round

__all__ = ["raking_weights"]


def raking_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_targets: dict[str, float],
    col_targets: dict[str, float],
    n_iter: int = 8,
) -> DataFrame:
    """Per-cell raking weights matching ``row_targets`` /
    ``col_targets`` (maps category -> target SHARE; each should sum to
    1 over the categories present). Returns one row per observed cell:
    ``(row_cat, col_cat, n, weight, weighted_share)`` with rows emitted
    in (row_cat, col_cat) order (order-by-construction: the local
    relation is built from the sorted cell list, the plan carries no
    sort — consumers needing a guaranteed ordering add their own
    ``orderBy``); ``weighted_share`` is the cell's share of the
    weighted total after the final iteration.

    Each iteration scales weights so the weighted ROW margin matches
    its target, then the COLUMN margin; IPF converges geometrically for
    strictly positive tables. Cells in categories absent from a target
    map keep factor 1 (caller's responsibility to cover the data's
    categories)."""
    cells = [
        (r["row_cat"], r["col_cat"], float(r["n"]))
        for r in (
            df.select(
                F.col(row_col).alias("row_cat"),
                F.col(col_col).alias("col_cat"),
            )
            .groupBy("row_cat", "col_cat")
            .agg(F.count(F.lit(1)).cast("double").alias("n"))
            .collect()  # bounded: |row cats| x |col cats| cells
        )
    ]
    # collect order is not deterministic; every driver-side sum below
    # runs in sorted-cell order so reruns are bit-stable. None-tolerant
    # key (the markov _sort_key pattern): a NULL row/col category is a
    # legal groupBy key, and a bare tuple sort would raise TypeError on
    # None — the engine-side orderBy this replaced tolerated NULLs.
    cells.sort(key=lambda t: (t[0] is None, t[0], t[1] is None, t[1]))
    w = {(rc, cc): 1.0 for rc, cc, _ in cells}
    n_of = {(rc, cc): n for rc, cc, n in cells}

    def _scale(axis: int, targets: dict[str, float]) -> None:
        margins: dict[str, float] = {}
        for key, n in n_of.items():
            margins[key[axis]] = margins.get(key[axis], 0.0) + n * w[key]
        margins = {k: spark_round(v, 8) for k, v in margins.items()}
        tot = spark_round(sum(n * w[key] for key, n in n_of.items()), 8)
        for key in w:
            t = targets.get(key[axis])
            # zero-margin guard: a target share of 0.0 zeroes its
            # category's weights on the first pass; scaling again would
            # divide 0/0. Leave already-dead cells at factor 1 — their
            # weight stays 0 and every other margin still converges.
            factor = (
                1.0
                if t is None or margins[key[axis]] == 0.0
                else t * tot / margins[key[axis]]
            )
            w[key] = spark_round(w[key] * factor, 8)

    for _ in range(n_iter):
        _scale(0, row_targets)
        _scale(1, col_targets)

    final_tot = spark_round(sum(n * w[key] for key, n in n_of.items()), 8)
    rows = [
        (
            rc,
            cc,
            int(n),
            spark_round(w[(rc, cc)], 6),
            # all-zero-weight table (every category targeted at 0.0):
            # shares are vacuously 0 rather than a ZeroDivisionError
            0.0
            if final_tot == 0.0
            else spark_round(n * w[(rc, cc)] / final_tot, 6),
        )
        for rc, cc, n in cells  # already sorted (None-tolerant) above
    ]
    # rows iterate sorted(cells), so the local relation is ALREADY in
    # (row_cat, col_cat) order — an orderBy() here would spend a whole
    # range-exchange job re-sorting a |cells|-row frame (row sequence
    # unchanged)
    return df.sparkSession.createDataFrame(
        rows,
        "row_cat string, col_cat string, n bigint, weight double, "
        "weighted_share double",
    )
