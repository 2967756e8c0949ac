"""DSIR importance weights: parity with a literal Python computation,
directional sanity (target-like docs outscore others), and plan shape."""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import re
from collections import Counter

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.selection import dsir_log_weights
from fireball_data_processing_spark.sources.tables import load_table

SMOKE = "/root/testdata/sf0.001"
B = 64

DOCS = [
    (1, "spark shuffle spark shuffle spark shuffle"),
    (2, "spark shuffle exchange partition"),
    (3, "dog cat mouse house"),
    (4, "cat dog dog cat mouse"),
    (5, "spark"),  # single token: zero bigrams -> no output row
]
TARGET_IDS = {1, 2}


def _bucket(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % B


def _grams(text: str) -> list[int]:
    t = re.findall(r"[a-z0-9]+", text.lower())
    return [_bucket(f"{a} {b}") for a, b in zip(t, t[1:])]


def _naive(docs, target_ids):
    r = Counter(b for _, t in docs for b in _grams(t))
    tc = Counter(b for i, t in docs if i in target_ids for b in _grams(t))
    r_tot, t_tot = sum(r.values()), sum(tc.values())
    out = {}
    for i, t in docs:
        gs = _grams(t)
        if not gs:
            continue
        w = sum(
            math.log((tc[b] + 1) / (t_tot + B))
            - math.log((r[b] + 1) / (r_tot + B))
            for b in gs
        )
        out[i] = (len(gs), round(w, 6))
    return out


def test_dsir_matches_naive(spark):
    d = spark.createDataFrame(DOCS, ["doc_id", "text"])
    target = d.filter(F.col("doc_id").isin(*TARGET_IDS))
    got = {
        r.doc_id: (r.n_grams, r.log_weight)
        for r in dsir_log_weights(d, target, n_buckets=B, gram_n=2).collect()
    }
    want = _naive(DOCS, TARGET_IDS)
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) <= 1e-6
    # zero-bigram doc has no row
    assert 5 not in got
    # target-domain docs outscore the off-domain docs
    assert min(got[1][1], got[2][1]) > max(got[3][1], got[4][1])


def test_dsir_plan_broadcasts_distributions(spark):
    d = load_table(spark, SMOKE, "documents")
    target = d.filter((F.col("lang") == "en") & (F.col("source") == "src1"))
    out = dsir_log_weights(d, target, n_buckets=512)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("extended")
    s = buf.getvalue()
    phys = s[s.index("== Physical Plan ==") :]
    # the bucket-distribution table reaches the per-gram stream as a
    # broadcast, never a corpus-sized shuffle join
    assert "BroadcastHashJoin" in phys
    # raw dist + target dist + scoring pass (dists are built once — the
    # totals ride a window over the merged frame, not a join-back that
    # would re-plan them)
    assert phys.count("Scan parquet") == 3, phys.count("Scan parquet")

def test_budget_fill_grouped_matches_literal_python(spark):
    """The grouped fill restarts the running total per group, applies
    per-group budgets from a broadcast frame, drops groups absent from
    it, and keeps a NULL group working (null-safe budget/offset joins
    — the percentile-gate lesson)."""
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.operators.selection import budget_fill

    rows = [
        # (grp, id, score, weight)
        ("a", 1, 0.9, 5), ("a", 2, 0.8, 5), ("a", 3, 0.7, 5),
        ("b", 4, 0.99, 8), ("b", 5, 0.5, 8),
        (None, 6, 0.6, 4), (None, 7, 0.4, 4),
        ("dropped", 8, 1.0, 1),
    ]
    df = spark.createDataFrame(
        rows, "grp string, id long, score double, w long"
    )
    budgets = spark.createDataFrame(
        [("a", 10), ("b", 8), (None, 8)], "grp string, budget long"
    )
    got = {
        (r["grp"], r["id"], r["cum_weight"])
        for r in budget_fill(
            df, "score", "w", "id", budget=budgets, group_col="grp"
        ).collect()
    }
    # a: 1 (5), 2 (10) fit; 3 (15) over. b: 4 (8) fits; 5 (16) over.
    # null group: 6 (4), 7 (8) fit. "dropped" has no budget row.
    want = {("a", 1, 5), ("a", 2, 10), ("b", 4, 8),
            (None, 6, 4), (None, 7, 8)}
    assert got == want

    # scalar budget still works ungrouped (regression)
    flat = budget_fill(df, "score", "w", "id", budget=13)
    assert {r["id"] for r in flat.collect()} == {8, 4}  # 1.0 then 0.99


def test_budget_fill_budget_frame_requires_group(spark):
    import pytest

    from fireball_data_processing_spark.operators.selection import budget_fill

    df = spark.createDataFrame([("a", 1, 0.5, 1)],
                               "grp string, id long, score double, w long")
    budgets = spark.createDataFrame([("a", 5)], "grp string, budget long")
    with pytest.raises(ValueError, match="requires group_col"):
        budget_fill(df, "score", "w", "id", budget=budgets)


def test_mad_outlier_stats_hand_computed(spark):
    from fireball_data_processing_spark.operators.selection import (
        mad_outlier_stats,
    )

    # group g: values 1..9 plus a gross outlier 1000
    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    r = mad_outlier_stats(df, "value", ["grp"], k=3.0).first()
    # median of (1..9, 1000) = 5.5; sorted deviations |x-5.5| =
    # 0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5 -> MAD = (2.5+2.5)/2
    assert r["median"] == 5.5
    assert r["mad"] == 2.5
    assert r["cutoff"] == round(3 * 1.4826 * 2.5, 6)
    assert r["n"] == 10 and r["n_outliers"] == 1
    # MAD flags only the gross outlier and keeps all of 1..9; a
    # mean/stddev z-score (stddev ~ 314 here) would flag nothing at 3z
    assert r["outlier_rate"] == 0.1


def test_mad_outlier_stats_constant_group_flags_nothing(spark):
    from fireball_data_processing_spark.operators.selection import (
        mad_outlier_stats,
    )

    df = spark.createDataFrame(
        [("g", 2.0)] * 8, "grp string, value double"
    )
    r = mad_outlier_stats(df, "value", ["grp"]).first()
    assert r["mad"] == 0.0 and r["n_outliers"] == 0
