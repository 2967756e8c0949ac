"""Incremental heuristics: chunked partials merged == single-pass compute,
and the non-sketch columns == the batch heuristics matrix exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from fireball_data_processing_spark.plans.heuristics import (
    SIMPLE,
    heuristics_matrix,
)
from fireball_data_processing_spark.plans.incremental import (
    finalize_heuristics,
    heuristic_partials,
    merge_heuristic_partials,
)
from fireball_data_processing_spark.schema import SYNTHETIC_STREAM
from fireball_data_processing_spark.sources.tables import load_table

SMOKE = "/root/testdata/sf0.001"
S = SYNTHETIC_STREAM


def _rows(df):
    # float sums are not associative: chunked merges differ from the
    # single pass in the last ulp, so compare at 6-decimal precision
    # (the repo-wide determinism contract)
    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    return {r[0]: tuple(norm(v) for v in tuple(r)[1:]) for r in df.collect()}


def test_chunked_merge_equals_single_pass(spark):
    ev = load_table(spark, SMOKE, "events")
    # split on an arbitrary interleaving predicate: chunks cut instances
    # mid-stream, the hard case for mergeability
    c1 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) != 0)
    c2 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 0)
    single = finalize_heuristics(heuristic_partials(ev, S))
    merged = finalize_heuristics(
        merge_heuristic_partials(
            S, heuristic_partials(c1, S), heuristic_partials(c2, S)
        )
    )
    assert _rows(single) == _rows(merged)


def test_finalized_matches_batch_matrix_exactly(spark):
    ev = load_table(spark, SMOKE, "events")
    inc = finalize_heuristics(heuristic_partials(ev, S))
    # the finalized set minus its one sketch column
    exact_names = tuple(n for n in SIMPLE if n != "num_participants")
    batch = heuristics_matrix(ev, S, names=exact_names)
    inc_sel = inc.select(inc.columns[0], *exact_names)
    assert _rows(inc_sel) == _rows(batch)
    # the sketch estimate tracks the exact distinct count closely
    exact = ev.filter(F.col(S.type_col) == "view").groupBy(
        F.col(S.instance_col)
    ).agg(F.countDistinct(F.col(S.author_col)).alias("n"))
    est = {r[0]: r.num_participants_approx for r in inc.collect()}
    for r in exact.collect():
        assert abs(est[r[0]] - r.n) <= max(2, 0.05 * r.n), (r[0], est[r[0]], r.n)


def test_null_measure_parity_with_batch_avg(spark):
    # an utterance with a NULL measure (attachment-only message) must not
    # enter the average's denominator — F.avg skips NULLs, so must we
    rows = [
        (1, 10, "view", 10.0),
        (1, 11, "view", None),
        (1, 12, "purchase", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, value double"
    )
    out = finalize_heuristics(heuristic_partials(ev, S)).collect()[0]
    assert out.average_message_length == 10.0  # not 5.0
    batch = heuristics_matrix(
        ev, S, names=("average_message_length",)
    ).collect()[0]
    assert out.average_message_length == batch.average_message_length


def test_merge_is_associative_ish(spark):
    ev = load_table(spark, SMOKE, "events")
    chunks = [
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)
    ]
    parts = [heuristic_partials(c, S) for c in chunks]
    left = merge_heuristic_partials(
        S, merge_heuristic_partials(S, parts[0], parts[1]), parts[2]
    )
    flat = merge_heuristic_partials(S, *parts)
    assert _rows(finalize_heuristics(left)) == _rows(finalize_heuristics(flat))
