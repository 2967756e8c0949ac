"""F8/F10 anonymization goldens, agreement statistics, A21 Dawid-Skene
EM."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.ids import (
    anonymize_json_str,
    anonymize_value,
    hashed_id,
)


def test_hashed_id_exact_reference_parity():
    # goldens computed with the reference algorithm verbatim
    # (scripts/anonymize.py:24-29): "{0:0>18}".format(
    #     str(int.from_bytes(md5(id).digest(), "little", signed=False))[:18])
    assert hashed_id("261302296103747584") == "239007750597631721"
    assert hashed_id("12345678901234567") == "292392773331039674"
    assert hashed_id("1") == "206718104415996593"
    assert hashed_id("abc") == "152195979970564155"
    # int input renders like its str form, as in the reference
    assert hashed_id(261302296103747584) == "239007750597631721"


def test_hashed_id_shape_and_stability():
    h1 = hashed_id("261302296103747584")
    h2 = hashed_id("261302296103747584")
    assert h1 == h2
    assert len(h1) == 18 and h1.isdigit()
    assert hashed_id("1") != hashed_id("2")


def test_anonymize_recursive_walk():
    payload = {
        "author_id": "261302296103747584",
        "nested": {"ids": ["12345678901234567", "not an id"]},
        "snowflake_int": 261302296103747584,
        "small": 42,
    }
    out = anonymize_value(payload, {"Avrae": "BOT"})
    assert out["author_id"] == hashed_id("261302296103747584")
    assert out["nested"]["ids"][0] == hashed_id("12345678901234567")
    assert out["nested"]["ids"][1] == "not an id"
    assert out["small"] == 42
    assert out["snowflake_int"] == int(hashed_id("261302296103747584"))


def test_anonymize_json_str_fallback():
    assert anonymize_json_str(None) is None
    # non-JSON still gets snowflakes replaced
    s = anonymize_json_str("id=261302296103747584 end")
    assert "261302296103747584" not in s
    rt = json.loads(anonymize_json_str('{"a": "261302296103747584"}'))
    assert rt["a"] == hashed_id("261302296103747584")


def test_krippendorff_alpha_matches_literal_python(spark):
    """Canonical count-form parity: alpha over a multi-rater table with
    missing ratings and singleton items must match a literal-Python
    replay; perfect agreement gives exactly 1; single-category data
    yields NULL (expected disagreement zero)."""
    import itertools

    import pytest

    from fireball_data_processing_spark.plans.agreement import (
        krippendorff_alpha_nominal,
    )

    # 3 raters, 6 items, missing cells, one singleton item (excluded)
    rows = [
        ("r1", 1, "a"), ("r2", 1, "a"), ("r3", 1, "b"),
        ("r1", 2, "b"), ("r2", 2, "b"),
        ("r1", 3, "a"), ("r3", 3, "a"),
        ("r2", 4, "c"), ("r3", 4, "b"),
        ("r1", 5, "c"), ("r2", 5, "c"), ("r3", 5, "c"),
        ("r1", 6, "a"),  # singleton: no agreement evidence
    ]
    df = spark.createDataFrame(rows, "rater string, item long, label string")
    got = krippendorff_alpha_nominal(df).first()

    from collections import Counter, defaultdict

    by_item = defaultdict(list)
    for _, it, lab in rows:
        by_item[it].append(lab)
    pairable = {it: ls for it, ls in by_item.items() if len(ls) >= 2}
    N = sum(len(ls) for ls in pairable.values())
    do = sum(
        sum(c * (len(ls) - c) for c in Counter(ls).values()) / (len(ls) - 1)
        for ls in pairable.values()
    )
    nc = Counter(itertools.chain.from_iterable(pairable.values()))
    de = sum(c * (N - c) for c in nc.values())
    want = 1.0 - (N - 1) * do / de
    assert got["n_items"] == 5
    assert got["n_ratings"] == N
    assert got["alpha"] == pytest.approx(round(want, 6), abs=1e-9)

    perfect = spark.createDataFrame(
        [(r, i, "x" if i % 2 else "y") for r in ("a", "b") for i in range(4)],
        "rater string, item long, label string",
    )
    assert krippendorff_alpha_nominal(perfect).first()["alpha"] == 1.0

    mono = spark.createDataFrame(
        [("a", 1, "x"), ("b", 1, "x"), ("a", 2, "x"), ("b", 2, "x")],
        "rater string, item long, label string",
    )
    assert krippendorff_alpha_nominal(mono).first()["alpha"] is None


def test_kendall_tau_matches_literal_python(spark):
    """tau-b parity against a literal O(n²) concordant/discordant count
    (the scipy.stats.kendalltau definition the reference calls),
    including ties on both sides and the all-tied NULL case."""
    import itertools
    import math

    import pytest

    from fireball_data_processing_spark.plans.agreement import (
        pairwise_kendall_tau,
    )

    rows = [
        ("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 2.0), ("a", 4, 4.0),
        ("b", 1, 2.0), ("b", 2, 1.0), ("b", 3, 3.0), ("b", 4, 3.0),
        ("c", 1, 5.0), ("c", 2, 5.0),  # all-tied rater
    ]
    df = spark.createDataFrame(rows, "rater string, item long, value double")
    got = {
        (r["rater_a"], r["rater_b"]): (r["n_items"], r["tau"])
        for r in pairwise_kendall_tau(df).collect()
    }

    vals = {(r, i): v for r, i, v in rows}

    def tau_b(ra, rb):
        items = sorted(
            {i for r, i, _ in rows if r == ra}
            & {i for r, i, _ in rows if r == rb}
        )
        c = d = tx = ty = n0 = 0
        for i, j in itertools.combinations(items, 2):
            dx = vals[(ra, i)] - vals[(ra, j)]
            dy = vals[(rb, i)] - vals[(rb, j)]
            n0 += 1
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
        den = math.sqrt((n0 - tx) * (n0 - ty))
        return len(items), (c - d) / den if den > 0 else None

    for pair in [("a", "b"), ("a", "c"), ("b", "c")]:
        n, t = tau_b(*pair)
        gn, gt = got[pair]
        assert gn == n, pair
        if t is None:
            assert gt is None, pair
        else:
            assert gt == pytest.approx(round(t, 6), abs=1e-9), pair


# ---------------------------------------------------------------- Dawid-Skene


def _ds(spark, rows):
    from fireball_data_processing_spark.plans.agreement import dawid_skene

    df = spark.createDataFrame(rows, "item bigint, rater string, label string")
    out = dawid_skene(df, labels=["a", "b", "c"])
    return {r["item"]: (r["map_label"], r["posterior"]) for r in out.collect()}


def test_dawid_skene_unanimous_items(spark):
    rows = [(i, r, "a") for i in range(5) for r in ("r1", "r2", "r3")]
    got = _ds(spark, rows)
    assert all(lab == "a" and p > 0.9 for lab, p in got.values())


def test_dawid_skene_learns_rater_reliability(spark):
    """r1/r2 always agree; r3 disagrees at random — the MAP label follows
    the reliable pair on every item, including where r3 dissents."""
    truth = {0: "a", 1: "b", 2: "a", 3: "c", 4: "b", 5: "a"}
    noise = {0: "b", 1: "b", 2: "c", 3: "c", 4: "a", 5: "c"}
    rows = []
    for i, t in truth.items():
        rows += [(i, "r1", t), (i, "r2", t), (i, "r3", noise[i])]
    got = _ds(spark, rows)
    assert {i: lab for i, (lab, _) in got.items()} == truth


def test_dawid_skene_symmetric_tie_breaks_lexicographic(spark):
    # one item, two raters, perfectly symmetric a-vs-b evidence
    rows = [(0, "r1", "a"), (0, "r2", "b")]
    got = _ds(spark, rows)
    assert got[0][0] == "a"


def _ds_panel(spark, events):
    """``(got, want)``: ``dawid_skene`` over an events-shaped panel of
    ``(event_id, user_id, event_type)`` rows, rated the way
    ``dawid_skene_labels`` rates events, and the query's unrolled oracle
    run in DuckDB over the same rows; both sorted."""
    import duckdb

    from fireball_data_processing_spark.plans.agreement import dawid_skene
    from fireball_data_processing_spark.queries import (
        _RATING_LABELS,
        _dawid_skene_oracle,
    )

    ratings = spark.createDataFrame(
        events, "event_id bigint, user_id bigint, event_type string"
    ).select(
        (F.col("event_id") % 200).alias("item"),
        (F.col("user_id") % 4).cast("string").alias("rater"),
        F.col("event_type").alias("label"),
    )
    got = sorted(tuple(r) for r in dawid_skene(ratings, _RATING_LABELS).collect())
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE events(event_id BIGINT, user_id BIGINT, event_type VARCHAR)"
        )
        con.executemany("INSERT INTO events VALUES (?, ?, ?)", events)
        want = sorted(con.execute(_dawid_skene_oracle()).fetchall())
    finally:
        con.close()
    return got, want


def test_dawid_skene_posterior_tie_matches_oracle(spark):
    """Item 2 of this fixed panel ends EM at t = 0.5088185, a tie at 6 dp
    whose binary double lies just below the tie: Spark's round (half-up
    on the decimal form) and DuckDB's (on the binary value) would part
    ways there, so the query and its oracle both emit the 8-dp posterior
    the last E-step produced, and must agree on every item."""
    from fireball_data_processing_spark.queries import _RATING_LABELS

    events, x = [], 5097  # a linear-congruential panel: 20 items, 60 votes
    for j in range(60):
        x = (x * 1103515245 + 12345) % 2**31
        events.append(
            ((x >> 8) % 20 + 200 * j, (x >> 4) % 4, _RATING_LABELS[(x >> 16) % 5])
        )
    got, want = _ds_panel(spark, events)
    assert (2, "error", 0.5088185) in got
    assert got == want


def test_dawid_skene_edge_panel_matches_oracle(spark):
    """A panel with votes outside the label set. Rater 3 never votes
    ``error``; about 1/6 of the votes are ``other``, which counts in an
    item's total and in its rater's M-step denominator but never in the
    E-step; item 29 gets only ``other`` votes, so it has initial
    posteriors and feeds round 1's M-step, then drops out."""
    from fireball_data_processing_spark.plans.agreement import _EM_ROUNDS
    from fireball_data_processing_spark.queries import _RATING_LABELS

    assert _EM_ROUNDS >= 2  # the drop-out shows from round 2 on
    events, x = [], 13  # a linear-congruential panel: items 0-28, 150 votes
    for j in range(150):
        x = (x * 1103515245 + 12345) % 2**31
        rater = (x >> 4) % 4
        label = (
            "other" if (x >> 12) % 6 == 0 else _RATING_LABELS[(x >> 16) % 5]
        )
        if rater == 3 and label == "error":
            label = "view"
        events.append(((x >> 8) % 29 + 200 * j, rater, label))
    events += [(29 + 200 * j, j % 4, "other") for j in range(150, 153)]
    got, want = _ds_panel(spark, events)
    assert sorted(item for item, _, _ in got) == list(range(29))
    assert got == want


def test_dawid_skene_leaves_one_pin(spark, sf_dir):
    """The count table is the only frame the EM pins: a run leaves at
    most one more persisted RDD behind."""
    from fireball_data_processing_spark.queries import queries

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    queries()["dawid_skene_labels"](spark, sf_dir).collect()
    assert jsc.getPersistentRDDs().size() - before <= 1


def test_f8_hash_duckdb_replay_parity(duck):
    """The oracle-side F8 rendering (`_F8_H18_SQL`: reversed md5 bytes
    -> UHUGEINT -> first 18 decimal digits, zero-padded) must equal the
    reference-exact Python `hashed_id` on ids of every width the
    \\b\\d{17,20}\\b walk accepts, plus non-numeric strings."""
    from fireball_data_processing_spark.queries import _F8_H18_SQL

    cases = [
        "261302296103747584",  # the reference golden snowflake
        "12345678901234567",   # 17 digits (regex lower bound)
        "99999999999999999999",  # 20 digits (upper bound)
        "1",
        "abc",
    ]
    vals = ", ".join(f"('{c}')" for c in cases)
    sql = (
        f"WITH ev(uid) AS (VALUES {vals}),\n"
        "h AS (SELECT uid, md5(uid) AS hx FROM ev),"
        + _F8_H18_SQL
        + "\nSELECT uid, h18 FROM n"
    )
    got = dict(duck.execute(sql).fetchall())
    from fireball_data_processing_spark.functions.ids import hashed_id

    assert got == {c: hashed_id(c) for c in cases}
