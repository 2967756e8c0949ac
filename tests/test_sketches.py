"""Sketch operators: HLL rollups, count-min heavy hitters, bloom pre-join.

The correctness contracts here are the sketches' mathematical guarantees
(HLL tolerance, CMS one-sided error, bloom no-false-negatives), checked
against exact computations — plus plan-shape pins for the scale claims
(the bloom probe is a pure expression at the scan, not a join).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.sketches import (
    bloom_bitmap,
    bloom_might_contain,
    bloom_prejoin,
    cms_counters,
    heavy_hitters,
    hll_distinct,
    hll_rollup,
)
from fireball_data_processing_spark.sources.tables import load_table


def test_hll_distinct_within_tolerance(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["n_approx"]
        for r in hll_distinct(ev, ["event_type"], "user_id").collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(1, 0.05 * exact[k]), (
            k,
            approx[k],
            exact[k],
        )


def test_hll_rollup_merges_without_rescan(spark, sf_dir):
    """Merged per-day sketches must agree with the exact coarse count
    within tolerance — the union path is how a 100 TB rollup avoids
    rescanning raw data."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("ts div 86400000000000")
    )
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    merged = {
        r["event_type"]: r["n_merged"]
        for r in hll_rollup(
            ev, ["event_type", "day"], ["event_type"], "user_id"
        ).collect()
    }
    for k in exact:
        assert abs(merged[k] - exact[k]) <= max(1, 0.05 * exact[k])


def test_hll_rollup_rejects_non_hierarchy():
    import pytest

    with pytest.raises(ValueError, match="not in fine_keys"):
        hll_rollup(None, ["a"], ["b"], "v")


def test_cms_estimate_bounds(spark):
    """CMS hard guarantee: estimate >= true count for EVERY value (not
    just heavy hitters), and the counter table never exceeds depth*width
    rows."""
    rows = [(f"v{i % 50}",) for i in range(2000)] + [("rare",)]
    df = spark.createDataFrame(rows, "x string")
    hh = heavy_hitters(df, "x", k=60, depth=5, width=256)
    got = hh.collect()
    assert len(got) == 51
    assert all(r["cms_lower_ok"] for r in got)
    # width 256 over 51 distinct values: collisions possible but the
    # e/width * N bound must still hold for every probed value
    assert all(r["cms_upper_ok"] for r in got)
    assert cms_counters(df, "x", depth=5, width=256).count() <= 5 * 256


def test_cms_exact_when_no_collisions(spark):
    """With width >> distinct values, every estimate is exact."""
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "x string"
    )
    got = {r["value"]: r["cms_est"] for r in heavy_hitters(df, "x", k=3).collect()}
    assert got == {"a": 5, "b": 3, "c": 1}


def test_bloom_no_false_negatives(spark):
    """Every member must pass the probe — the property that makes the
    pre-join exact. Checked over a key space far larger than the bitmap
    could memorize exactly."""
    members = spark.range(5000).select((F.col("id") * 13 + 7).alias("k"))
    bm = bloom_bitmap(members, "k")
    missed = members.filter(~bloom_might_contain(F.col("k"), bm)).count()
    assert missed == 0


def test_bloom_false_positive_rate_sane(spark):
    """Non-members mostly fail the probe: with m=2^16 bits, k=5 hashes and
    n=1000 members the theoretical fp rate is ~1e-5; allow two orders of
    magnitude slack to stay deterministic-robust."""
    members = spark.range(1000).select((F.col("id") * 3).alias("k"))
    bm = bloom_bitmap(members, "k")
    non = spark.range(1_000_000, 1_010_000).select(F.col("id").alias("k"))
    fp = non.filter(bloom_might_contain(F.col("k"), bm)).count()
    assert fp <= 10, fp


def test_bloom_prejoin_preserves_join_result(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pt = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select("p_partkey")
    )
    pre = bloom_prejoin(li, pt, "l_partkey", "p_partkey")
    plain = li.join(pt, li["l_partkey"] == pt["p_partkey"]).count()
    filtered = pre.join(pt, pre["l_partkey"] == pt["p_partkey"]).count()
    assert filtered == plain
    # and the pre-filter actually cuts rows (not a pass-through)
    assert pre.count() < li.count()


def test_bloom_probe_is_pure_expression(spark):
    """The probe side must stay join-free and exchange-free: one literal
    bitmap, a forall over element_at — all inside the scan's codegen
    stage. A join- or shuffle-shaped probe would defeat the point."""
    import contextlib
    import io

    large = spark.range(100).select(F.col("id").alias("k"))
    small = spark.range(10).select(F.col("id").alias("k"))
    pre = bloom_prejoin(large, small, "k", "k")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pre.explain("extended")
    s = buf.getvalue()
    phys = s[s.index("== Physical Plan ==") :]
    assert "Join" not in phys
    assert not re.search(r"Exchange (hash|range)partitioning", phys)


def test_heavy_hitters_deterministic_ties(spark):
    """Equal-count values rank by value string — reruns give identical
    rank columns."""
    df = spark.createDataFrame([("b",), ("a",), ("c",)], "x string")
    got = [
        (r["rank"], r["value"]) for r in
        heavy_hitters(df, "x", k=3).orderBy("rank").collect()
    ]
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_heavy_hitters_topk_is_distributed(spark):
    """The exact top-k must compile to TakeOrderedAndProject (per-partition
    top-k), never a vocabulary-wide single-task row_number sort."""
    import contextlib
    import io

    df = spark.createDataFrame([(f"v{i % 7}",) for i in range(50)], "x string")
    hh = heavy_hitters(df, "x", k=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hh.explain("extended")
    s = buf.getvalue()
    assert "TakeOrderedAndProject" in s, s


def test_histogram_quantiles_bounded_error(spark, sf_dir):
    """The estimate's error is bounded by one bucket width (the
    histogram's guarantee), and the frame has one row per quantile."""
    from fireball_data_processing_spark.operators.sketches import (
        histogram_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    width = (hi - lo) / 128.0
    rows = histogram_quantiles(ev, "value", n_buckets=128).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["abs_err"] <= width + 1e-9, (r["q"], r["abs_err"], width)


def test_histogram_quantiles_merge_equals_whole(spark):
    """Mergeability: bucket counts from two disjoint halves sum to the
    whole's, so the interpolated estimates are identical — the property
    that lets shards/streams sketch independently."""
    from fireball_data_processing_spark.operators.sketches import (
        histogram_quantiles,
    )

    vals = [float(x) for x in range(1, 201)]
    whole = spark.createDataFrame([(v,) for v in vals], "value double")
    # fix lo/hi by including both extremes in each half so the bucket
    # geometry matches (a production merge shares one (lo, hi) contract)
    half_a = spark.createDataFrame(
        [(v,) for v in vals if v <= 100 or v in (1.0, 200.0)], "value double"
    )
    est_whole = {
        r["q"]: r["est"]
        for r in histogram_quantiles(whole, "value", n_buckets=16).collect()
    }
    # sanity on the whole: median of 1..200 ~ 100.5
    assert abs(est_whole[0.5] - 100.5) < (200 - 1) / 16 + 1e-9
    assert half_a.count() < whole.count()


def test_histogram_quantiles_degenerate_constant(spark):
    """All-equal values: zero width, every estimate is the constant."""
    from fireball_data_processing_spark.operators.sketches import (
        histogram_quantiles,
    )

    df = spark.createDataFrame([(7.5,)] * 10, "value double")
    rows = histogram_quantiles(df, "value").collect()
    assert len(rows) == 5
    assert all(r["est"] == 7.5 and r["exact"] == 7.5 for r in rows)
