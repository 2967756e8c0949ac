"""Parity pins for the SQL-text expression builders (the O(1)-py4j
plan-construction fast path, operators/clustering.py).

Classic PySpark pays one py4j round-trip per Column node and dozens per
higher-order-function lambda; profiling the IVFPQ query showed ~2.5 s
of a 3 s plan build in 12k+ socket round-trips. The text builders
render the SAME expression as one JVM-parsed string — these tests pin
that "same": every builder must produce values IDENTICAL to its
original Column-API twin (which the public functions keep for Column
inputs), including tie-breaks and rounding, and ``repr(float) + 'D'``
must round-trip every finite double bit-exactly through Spark's
parser (Java ``Double.parseDouble`` is correctly rounded).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.clustering import (
    _double_sql,
    kmeans_assign,
    nearest_centroid_expr,
    nearest_centroids_sql,
)
from fireball_data_processing_spark.operators.similarity import (
    pq_code_expr,
    rp_sketch_expr,
)


def _vec_frame(spark, n=200, dim=16, seed=3):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-2.0, 2.0) for _ in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _centroids(k=5, dim=16, seed=9, dup_first=True):
    rng = random.Random(seed)
    cents = [
        (c, [round(rng.uniform(-2.0, 2.0), 6) for _ in range(dim)])
        for c in range(k)
    ]
    if dup_first:
        # an exact-duplicate centroid forces the (dist2, cid) tie-break
        cents.append((k, list(cents[0][1])))
    return cents


def test_double_sql_round_trips_exactly(spark):
    rng = random.Random(41)
    vals = [rng.uniform(-1.0, 1.0) for _ in range(300)]
    vals += [
        rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-300, 300)
        for _ in range(300)
    ]
    vals += [
        0.0,
        -0.0,
        5e-324,  # smallest subnormal
        2.2250738585072014e-308,  # smallest normal
        1.7976931348623157e308,  # largest finite
        1.0 / 3.0,
        math.pi,
    ]
    row = spark.range(1).select(
        *[F.expr(_double_sql(v)).alias(f"c{i}") for i, v in enumerate(vals)]
    ).collect()[0]
    for i, v in enumerate(vals):
        got = row[f"c{i}"]
        assert got == v and math.copysign(1.0, got) == math.copysign(1.0, v)


def test_double_sql_rejects_non_finite():
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError):
            _double_sql(bad)


def test_nearest_centroid_text_equals_column_path(spark):
    df = _vec_frame(spark)
    cents = _centroids()
    col_in = F.col("embedding").cast("array<double>")
    txt_in = "cast(`embedding` as array<double>)"
    a = df.select(
        "vec_id", nearest_centroid_expr(cents, col_in).alias("s")
    ).orderBy("vec_id").collect()
    b = df.select(
        "vec_id", nearest_centroid_expr(cents, txt_in).alias("s")
    ).orderBy("vec_id").collect()
    assert a == b


def test_nearest_centroids_text_matches_literal_python(spark):
    """The n_probe nearest centroids, nearest first, (dist2, cid) order —
    the duplicate centroid exercises the cid tie-break."""
    df = _vec_frame(spark, n=120)
    cents = _centroids()
    probe = nearest_centroids_sql(cents, "cast(`embedding` as array<double>)", 3)
    got = {
        r["vec_id"]: [(p["d"], p["cid"]) for p in r["s"]]
        for r in df.select("vec_id", F.expr(probe).alias("s")).collect()
    }
    for i, v in df.toPandas().set_index("vec_id")["embedding"].items():
        want = sorted(
            (sum((x - y) * (x - y) for x, y in zip(v, c)), cid)
            for cid, c in cents
        )[:3]
        assert [cid for _, cid in got[i]] == [cid for _, cid in want]
        assert [d for d, _ in got[i]] == pytest.approx([d for d, _ in want], abs=1e-9)


def test_kmeans_assign_matches_literal_python(spark):
    df = _vec_frame(spark, n=120)
    cents = _centroids()
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist2"])
        for r in kmeans_assign(df, cents).collect()
    }
    for i, v in df.toPandas().set_index("vec_id")["embedding"].items():
        best = min(
            (sum((x - y) * (x - y) for x, y in zip(v, c)), cid)
            for cid, c in cents
        )
        assert got[i][0] == best[1]
        assert got[i][1] == pytest.approx(best[0], abs=1e-9)


def test_pq_code_text_equals_column_path(spark):
    df = _vec_frame(spark, dim=16)
    rng = random.Random(5)
    books = [
        [(c, [round(rng.uniform(-2, 2), 6) for _ in range(4)]) for c in range(4)]
        for _ in range(4)
    ]
    a = df.select(
        "vec_id",
        pq_code_expr(
            F.col("embedding").cast("array<double>"), 16, books
        ).alias("c"),
    ).orderBy("vec_id").collect()
    b = df.select(
        "vec_id",
        pq_code_expr("cast(`embedding` as array<double>)", 16, books).alias(
            "c"
        ),
    ).orderBy("vec_id").collect()
    assert a == b


def test_rp_sketch_text_equals_column_path(spark):
    df = _vec_frame(spark, dim=16)
    a = df.select(
        "vec_id", rp_sketch_expr(F.col("embedding"), 16, 8).alias("s")
    ).orderBy("vec_id").collect()
    b = df.select(
        "vec_id", rp_sketch_expr("`embedding`", 16, 8).alias("s")
    ).orderBy("vec_id").collect()
    assert a == b


def test_text_path_plan_is_still_pure_projection(spark):
    """The text-built assignment must stay a scan -> projection plan:
    no joins, no exchanges (the kmeans_assign scale contract)."""
    import contextlib
    import io

    df = _vec_frame(spark, n=50)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        kmeans_assign(df, _centroids()).explain("extended")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Join" not in plan


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:

    @given(
        vals=st.lists(
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            min_size=1,
            max_size=120,
        )
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    def test_double_sql_round_trip_property(spark, vals):
        """Hypothesis sweep: every finite double must survive
        _double_sql -> Spark parser bit-exactly (one batched select per
        example to amortize the job)."""
        row = spark.range(1).select(
            *[
                F.expr(_double_sql(v)).alias(f"c{i}")
                for i, v in enumerate(vals)
            ]
        ).collect()[0]
        for i, v in enumerate(vals):
            got = row[f"c{i}"]
            assert got == v
            assert math.copysign(1.0, got) == math.copysign(1.0, v)


# ---------------------------------------------------------------------------
# _spark_round_sql: the shared Spark-semantics round for DuckDB oracles
# ---------------------------------------------------------------------------


def test_spark_round_sql_matches_spark_round_on_half_ties(duck):
    """The oracle-side display round must replicate spark_round (shortest
    decimal repr -> HALF_UP) exactly where plain DuckDB ROUND does NOT:
    decimals-by-construction landing on a half boundary one digit past
    the target scale (the MMR lam*score products; the BT 8-dp final
    iterate). Sweep 7-dp '..5'-ending values plus the known divergent
    cases; also confirm plain ROUND actually disagrees on some of them,
    or this test guards nothing. Values enter DuckDB as STRING-cast
    literals — the correctly-rounded strtod path; a NUMERIC literal
    parses as DECIMAL first, and DuckDB's decimal->double conversion
    can land on the NEIGHBORING double (0.19013349999999998::DOUBLE
    reads back as 0.1901335), which is why the MMR oracle splices its
    lam literals as strings too."""
    from fireball_data_processing_spark.functions.rounding import spark_round
    from fireball_data_processing_spark.queries import _spark_round_sql

    vals = [i / 10**7 + 5 / 10**7 for i in range(0, 2_000_000, 10_007)]
    vals += [0.2600395, 0.5195015, 0.0000005, 0.1234565]
    plain_diverges = 0
    for v in vals:
        lit = f"CAST('{v!r}' AS DOUBLE)"
        r, plain = duck.execute(
            f"SELECT {_spark_round_sql(lit)}, ROUND({lit}, 6)"
        ).fetchone()
        assert r == spark_round(v, 6), (v, r, spark_round(v, 6))
        if plain != spark_round(v, 6):
            plain_diverges += 1
    assert plain_diverges > 0, "sweep hit no divergent case; weaken nothing"


def test_bpe_oracle_iteration_ctes_stay_materialized():
    """Same DuckDB-inlining hazard as the BT oracle: each v{t} vocab
    CTE is referenced by BOTH the next step's pair count and its
    explode, so a non-MATERIALIZED 16-deep chain doubles per step."""
    from fireball_data_processing_spark.queries import _bpe_merge_oracle

    sql = _bpe_merge_oracle(16)
    assert sql.count("AS MATERIALIZED") >= 16 + 1  # v0..v16 at least


def test_bpe_merge_oracle_replays_trainer_on_toy_corpus(duck):
    """End-to-end parity on a hand-built corpus exercising the oracle's
    two hard spots: a self-pair merge with an odd-length run (leftmost-
    greedy parity — 'aaaa a' shapes) and the (count, pair) tie-break."""
    import pandas as pd

    from fireball_data_processing_spark.functions.bpe import train_bpe
    from fireball_data_processing_spark.queries import _bpe_merge_oracle

    rows = (
        ["aaaaa bbbb"] * 3      # self-pair runs of even and odd length
        + ["cd cd xy"] * 2      # tie candidates with equal counts
        + ["the the the"] * 2
    )
    docs = pd.DataFrame({"text": rows})
    duck.register("documents", docs)
    try:
        got = sorted(
            tuple(r)
            for r in duck.execute(_bpe_merge_oracle(8)).fetchall()
        )
        wf = duck.execute(
            """SELECT word, COUNT(*)::BIGINT FROM (
                 SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
                 FROM documents) GROUP BY word"""
        ).fetchall()
        merges = train_bpe(sorted([(w, int(n)) for w, n in wf]), 8)
        want = sorted((i + 1, a, b) for i, (a, b) in enumerate(merges))
        assert got == want
    finally:
        # the duck fixture is session-scoped: an assertion failure must not
        # leak the 'documents' registration into every later test
        duck.unregister("documents")


def test_bpe_parity_rewrite_equals_leftmost_greedy_merge():
    """The algebraic core of the BPE oracle's vocab-rewrite step: the
    gaps-and-islands parity rule (within each maximal run of
    consecutive flagged positions, odd offsets merge and the following
    position is consumed) must equal `_merge_word`'s leftmost-greedy
    scan for EVERY symbol sequence. Property-tested over random
    sequences from a tiny alphabet (maximizes runs and overlaps) and
    every pair present."""
    from hypothesis import given, strategies as st

    from fireball_data_processing_spark.functions.bpe import _merge_word

    def parity_merge(syms, pair):
        n = len(syms)
        flg = [
            i + 1 < n and (syms[i], syms[i + 1]) == pair for i in range(n)
        ]
        # run id per flagged position (gaps and islands), parity within
        do = [False] * n
        i = 0
        while i < n:
            if flg[i]:
                j = i
                while j < n and flg[j]:
                    j += 1
                for k, p in enumerate(range(i, j)):
                    do[p] = k % 2 == 0
                i = j
            else:
                i += 1
        out, i = [], 0
        consumed = [False] * n
        for p in range(n):
            if p > 0 and do[p - 1]:
                consumed[p] = True
        for p in range(n):
            if consumed[p]:
                continue
            out.append(syms[p] + syms[p + 1] if do[p] else syms[p])
        return tuple(out)

    @given(st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12))
    def check(seq):
        syms = tuple(seq)
        pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
        pairs |= {("a", "a"), ("a", "b")}
        for pair in pairs:
            assert parity_merge(syms, pair) == _merge_word(syms, pair), (
                syms,
                pair,
            )

    check()


def test_bt_oracle_iteration_ctes_stay_materialized():
    """DuckDB INLINES plain CTEs; the BT MM update references the
    previous iterate three times, so a non-MATERIALIZED 16-deep chain
    explodes combinatorially (observed: 'Too many open files' before
    any result). Pin the keyword so a well-meaning simplification can't
    reintroduce it."""
    from fireball_data_processing_spark.queries import _bt_oracle

    sql = _bt_oracle(n_iter=16)
    assert sql.count("AS MATERIALIZED") >= 16 * 2  # r{t} and s{t} per step


def test_bpe_apply_oracle_property_random_corpora(duck):
    """Property twin of the application oracle (the r11 trainer got the
    same treatment): for RANDOM tiny-alphabet corpora — maximizing
    self-pairs, overlapping merges, and early merge exhaustion — the
    DuckDB train+apply unroll must equal train_bpe + apply_merges per
    doc. Tiny alphabet 'ab' makes (x, x) self-pair runs and rank
    collisions common; max word length 6 stays inside the n_apply=6
    unroll; words seen once are applied but not trained on (the
    training floor of 2), and tiny corpora exhaust their pairs before
    n_merges, exercising the empty-bp{t} pass-through."""
    import re

    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from fireball_data_processing_spark.functions.bpe import (
        apply_merges,
        train_bpe,
    )
    from fireball_data_processing_spark.queries import _bpe_apply_oracle

    sql = _bpe_apply_oracle(4, n_apply=6)

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.text(alphabet="ab", min_size=1, max_size=6),
                min_size=1,
                max_size=6,
            ),
            min_size=1,
            max_size=4,
        )
    )
    def check(docs_words):
        texts = [" ".join(ws) for ws in docs_words]
        docs = pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts}
        )
        duck.register("documents", docs)
        try:
            got = {
                r[0]: (r[1], r[2]) for r in duck.execute(sql).fetchall()
            }
        finally:
            duck.unregister("documents")
        counts: dict[str, int] = {}
        for t in texts:
            for w in re.findall(r"[a-z0-9]+", t.lower()):
                counts[w] = counts.get(w, 0) + 1
        merges = train_bpe(sorted((w, n) for w, n in counts.items() if n >= 2), 4)
        for doc_id, t in enumerate(texts):
            n_bpe = sum(
                len(apply_merges(w, merges))
                for w in re.findall(r"[a-z0-9]+", t.lower())
            )
            assert got[doc_id] == (n_bpe, len(t.strip().split())), (
                t,
                merges,
                got[doc_id],
            )

    check()
