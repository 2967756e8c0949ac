"""Ordered-window utilities: bounded search, rolling history, pagination.

- ``find_first_after``: the reference's ``Instance.find`` — first event
  matching a predicate within a bounded index window after an anchor
  (``heuristics/utils.py:127-148``, G4); also the embed-finding and
  tupper-lookahead joins (J7/J8) specialize this shape.
- ``history_window``: running history over the last K prior rows
  (``distill4_normalize.py:383-399``, G12 — last-5 utterance history).
- ``paginate``: explorer-style multi-key sort + page slice
  (``explorer/src/components/DatasetTable.vue:15-42``, O2/O3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def find_first_after(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    anchor_predicate: Column,
    match_predicate: Column,
    value: Column,
    lookahead: int,
    out_col: str = "found",
) -> DataFrame:
    """For each anchor row, the ``value`` of the first row satisfying
    ``match_predicate`` within the next ``lookahead`` rows (G4/J8 bounded
    lookahead). Returns only anchor rows, with ``out_col`` attached
    (null if nothing matches in the window)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(1, lookahead)
    )
    found = F.first(F.when(match_predicate, value), ignorenulls=True).over(w)
    return df.withColumn(out_col, found).filter(anchor_predicate)


def history_window(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    value: Column,
    k: int,
    agg: str = "collect",
    out_col: str = "history",
) -> DataFrame:
    """Rolling window over the K rows strictly before the current one.

    ``agg``: 'collect' (ordered list, G12 semantics), 'sum' or 'count'
    (numeric summaries — hash-comparable for oracles).
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(-k, -1)
    )
    if agg == "collect":
        expr = F.collect_list(value).over(w)
    elif agg == "sum":
        expr = F.sum(value).over(w)
    elif agg == "count":
        expr = F.count(value).over(w)
    else:
        raise ValueError(agg)
    return df.withColumn(out_col, expr)


def paginate(
    df: DataFrame,
    sort_keys: Sequence[tuple[str, bool]],
    tiebreak_col: str,
    page: int,
    page_size: int = 250,
) -> DataFrame:
    """Multi-key sort with deterministic tiebreak, then one page of rows
    (the explorer's ordered (key, asc/desc) sort list with `_id` tiebreak
    and 250-row pages).

    Scale shape: a naive global row_number window sorts the WHOLE input in
    one task. Instead, ``orderBy().limit((page+1)*page_size)`` compiles to
    a distributed TakeOrderedAndProject (per-partition top-k, merged on the
    driver-side single reducer over only k rows); the row_number window then
    ranks just those (page+1)*page_size rows. Cost grows with page depth,
    not table size — deep random access should go through the
    pre-aggregated matrix instead.
    """
    order = [
        (F.col(c).asc() if asc else F.col(c).desc()) for c, asc in sort_keys
    ] + [F.col(tiebreak_col).asc()]
    top = df.orderBy(*order).limit((page + 1) * page_size)
    w = Window.orderBy(*order)
    return (
        top.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > page * page_size)
        .drop("__rn")
    )


def two_phase_global_rank(
    df: DataFrame,
    score_col: str,
    tiebreak_cols: Sequence[str],
    n_buckets: int = 8,
) -> DataFrame:
    """Exact global ``row_number`` over ``(score asc_nulls_first,
    *tiebreak_cols asc)`` WITHOUT a single-partition window — the
    scale-correct form of ``F.row_number().over(Window.orderBy(...))``,
    whose WindowExec moves the entire input to one task.

    The token_budget_fill bucketed prefix-sum pattern generalized to
    ranking: quantile cuts (collected once from the checkpointed
    frame, ``n_buckets - 1`` doubles) define order-monotone score
    buckets (NULL scores take bucket -1, matching asc_nulls_first);
    rows are ranked WITHIN each bucket by the full sort key
    (partitioned window), and the bucket-count prefix offsets ride a
    broadcast join back. The only unpartitioned window left is the
    cumulation over the (n_buckets + 1)-row offset frame.

    Rank values equal the naive global window's EXACTLY — bucketing is
    monotone nondecreasing in the score-major order and the composite
    key ``(score_col, *tiebreak_cols)`` must be UNIQUE (with duplicate
    full keys, row_number is arbitrary among the duplicates in either
    form). Cut placement only shapes the partitioning, never the
    output, so approxQuantile's sketch error is load skew, not
    a correctness concern. Size ``n_buckets`` to the cluster: ranks
    within one bucket still sort in a single task each.

    Returns ``df``'s columns plus ``rank`` (bigint, 1-based). The
    input is localCheckpointed (it feeds the quantile probe, the
    bucket counts, and the rank — lazy, its lineage would recompute
    once per consumer)."""
    chk = df.localCheckpoint()
    probs = [i / float(n_buckets) for i in range(1, n_buckets)]
    cuts = sorted(set(chk.approxQuantile(score_col, probs, 0.01)))
    b = F.lit(0)
    for c in cuts:
        b = b + F.when(F.col(score_col) >= F.lit(float(c)), 1).otherwise(0)
    sdf = chk.withColumn(
        "__bkt", F.when(F.col(score_col).isNull(), F.lit(-1)).otherwise(b)
    )
    counts = sdf.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__bkt", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy("__bkt").orderBy(
        F.col(score_col).asc_nulls_first(),
        *[F.col(c).asc() for c in tiebreak_cols],
    )
    return (
        sdf.join(F.broadcast(offs), "__bkt")
        .withColumn(
            "rank",
            (F.row_number().over(w_in) + F.col("__off")).cast("bigint"),
        )
        .select(*df.columns, "rank")
    )
