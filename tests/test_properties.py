"""Property-based parity: the as-of/nearest join family (the reference's
characteristic primitive, built on ``pd.merge_asof`` —
``distill1_time_group.py:48-52``) must agree with pandas itself on
arbitrary generated event streams, and the Jaccard verifier must agree
with a literal Python set computation.

Hypothesis drives the data; every example is one Spark round-trip, so
example counts are kept small but the generated shapes cover the edges the
fixed fixtures can't promise to (empty sides, all-ties, single-row
partitions, unmatched partitions).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.asof import nearest_join

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# left rows: (user, ts) — duplicates allowed
left_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=0, max_size=25
)
# right rows: per-user UNIQUE ts (merge_asof tie-breaks among equal right
# keys by input order, which a distributed engine has no analog for)
right_maps = st.dictionaries(
    st.integers(0, 2), st.sets(st.integers(0, 60), min_size=0, max_size=12)
)


def _right_df(right_map):
    rows = [
        (u, ts, u * 1000 + ts) for u, tss in right_map.items() for ts in sorted(tss)
    ]
    return rows


@given(left=left_rows, right=right_maps)
@settings(**SETTINGS)
def test_nearest_join_matches_pandas_nearest(spark, left, right):
    rrows = _right_df(right)
    if len(left) == 0:
        return
    lpdf = pd.DataFrame(left, columns=["u", "ts"]).sort_values("ts", kind="stable")
    rpdf = pd.DataFrame(rrows, columns=["u", "ts", "val"]).sort_values(
        "ts", kind="stable"
    )
    ldf = spark.createDataFrame(
        [(int(u), int(t)) for u, t in left], "u int, ts int"
    )
    rdf = spark.createDataFrame(
        [(int(u), int(t), int(v)) for u, t, v in rrows], "u int, ts int, val int"
    )
    got_df = nearest_join(ldf, rdf, ["u"], "ts", "val", prefer="backward")
    got = sorted((r["u"], r["ts"], r["val_nearest"]) for r in got_df.collect())
    if len(rpdf) == 0:
        want = sorted((u, t, None) for u, t in left)
    else:
        # pandas merge_asof nearest breaks distance ties BACKWARD — the
        # exact reference semantics prefer='backward' reproduces
        m = pd.merge_asof(lpdf, rpdf, on="ts", by="u", direction="nearest")
        want = sorted(
            (int(r.u), int(r.ts), None if pd.isna(r.val) else int(r.val))
            for r in m.itertuples()
        )
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_jaccard_pairs_matches_python_sets(spark, docs):
    from fireball_data_processing_spark.operators.dedup import jaccard_pairs

    k = 2
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))],
        "id_a bigint, id_b bigint",
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in jaccard_pairs(df, pairs, shingle_k=k).collect()
    }

    def sh(t):
        ws = t.split()
        return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}

    sets = {i: sh(" ".join(t.split())) for i, t in enumerate(docs)}
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            # docs with zero shingles have no row in the exploded path —
            # inner-join semantics drop those pairs
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            want[(a, b)] = round(inter / union, 6) if union else 0.0
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.sampled_from(["view", "purchase", "signup"]), st.integers(0, 9)),
        min_size=0,
        max_size=40,
    ),
)
@settings(**SETTINGS)
def test_segment_buffer_flush_matches_naive_fsm(events):
    # the numpy cumulative-segmentation core must equal the literal
    # buffer/flush state machine for any event sequence
    from fireball_data_processing_spark.schema import SYNTHETIC_STREAM as S
    from fireball_data_processing_spark.streaming.heuristics_stream import (
        _segment_buffer_flush,
    )

    pdf = pd.DataFrame(
        [(i, t, float(v)) for i, (t, v) in enumerate(events)],
        columns=[S.seq_col, S.type_col, S.measure_col],
    )
    anchors, counts, sums = _segment_buffer_flush(
        pdf, S, ("view",), ("purchase",)
    )

    # naive FSM
    want = []
    bn, bs = 0, 0.0
    for i, (t, v) in enumerate(events):
        if t == "view":
            bn += 1
            bs += float(v)
        elif t == "purchase":
            want.append((i, bn, bs))
            bn, bs = 0, 0.0
    assert [(int(a), int(n), float(s)) for a, n, s in zip(anchors, counts, sums)] == want


@given(
    events=st.lists(
        st.tuples(st.integers(0, 1), st.sampled_from("abc")), min_size=0, max_size=30
    )
)
@settings(**SETTINGS)
def test_run_ids_match_itertools_groupby(spark, events):
    # G7 vs the reference's own primitive (itertools.groupby per partition)
    import itertools

    from fireball_data_processing_spark.operators.runs import with_run_ids

    df = spark.createDataFrame(
        [(u, i, k) for i, (u, k) in enumerate(events)], "u int, seq int, k string"
    )
    got = {
        (r["u"], r["seq"]): r["run_id"]
        for r in with_run_ids(df, ["u"], "seq", ["k"]).collect()
    }

    want = {}
    for u in (0, 1):
        rows = [(i, k) for i, (uu, k) in enumerate(events) if uu == u]
        rid = 0
        for _, grp in itertools.groupby(rows, key=lambda r: r[1]):
            rid += 1
            for i, _k in grp:
                want[(u, i)] = rid
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.sampled_from("amx"), st.integers(0, 9)), min_size=0, max_size=30
    ),
    lookahead=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_find_first_after_matches_naive_scan(spark, events, lookahead):
    # G4 bounded lookahead vs a literal index-window scan
    from fireball_data_processing_spark.operators.windows import find_first_after

    df = spark.createDataFrame(
        [(1, i, t, v) for i, (t, v) in enumerate(events)],
        "u int, seq int, typ string, v int",
    )
    out = find_first_after(
        df, ["u"], "seq",
        anchor_predicate=F.col("typ") == "a",
        match_predicate=F.col("typ") == "m",
        value=F.col("v"),
        lookahead=lookahead,
    )
    got = {r["seq"]: r["found"] for r in out.collect()}

    want = {}
    for i, (t, _v) in enumerate(events):
        if t != "a":
            continue
        found = None
        for j in range(i + 1, min(i + 1 + lookahead, len(events))):
            if events[j][0] == "m":
                found = events[j][1]
                break
        want[i] = found
    assert got == want


@given(
    vals=st.lists(st.integers(0, 9), min_size=0, max_size=25),
    k=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_history_window_matches_naive_slices(spark, vals, k):
    # G12 last-K history vs literal list slicing
    from fireball_data_processing_spark.operators.windows import history_window

    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "u int, seq int, v int"
    )
    out = history_window(df, ["u"], "seq", F.col("v"), k, agg="collect")
    got = {r["seq"]: r["history"] for r in out.collect()}
    want = {i: vals[max(0, i - k) : i] for i in range(len(vals))}
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.sampled_from("sx"), st.integers(0, 9)), min_size=0, max_size=30
    )
)
@settings(**SETTINGS)
def test_asof_cols_match_naive_scan(spark, events):
    # G5/G6 single-table forms: last state at-or-before / first at-or-after
    from fireball_data_processing_spark.operators.asof import (
        asof_backward_col,
        asof_forward_col,
    )

    df = spark.createDataFrame(
        [(1, i, t, v) for i, (t, v) in enumerate(events)],
        "u int, seq int, typ string, v int",
    )
    is_state = F.col("typ") == "s"
    out = df.select(
        "seq",
        asof_backward_col(is_state, F.col("v"), ["u"], "seq").alias("bwd"),
        asof_forward_col(is_state, F.col("v"), ["u"], "seq").alias("fwd"),
    )
    got = {r["seq"]: (r["bwd"], r["fwd"]) for r in out.collect()}

    want = {}
    for i in range(len(events)):
        bwd = next((v for t, v in reversed(events[: i + 1]) if t == "s"), None)
        fwd = next((v for t, v in events[i:] if t == "s"), None)
        want[i] = (bwd, fwd)
    assert got == want


# edge lists over a small vertex universe: chains, cliques, self-loops,
# disconnected singletons all arise
edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=30
)


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from fireball_data_processing_spark.operators.dedup import connected_components

    # Python reference: classic union-find over the same edges
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {v: find(v) for v in parent}
    # canonical = min vertex of the component
    comp_min: dict[int, int] = {}
    for v, r in want.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in parent}

    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == want


@given(
    vec=st.lists(
        st.floats(
            min_value=-100, max_value=100,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=1, max_size=32,
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quantization_error_bound_and_roundtrip(spark, dequantize, vec):
    """Scalar quantization invariants: codes in [0, 255]; max per-element
    reconstruction error <= scale/2 (+ float slack); constant vectors map
    to all-zero codes with zero error."""
    from fireball_data_processing_spark.operators.similarity import (
        quantize_embedding,
    )

    df = spark.createDataFrame([(vec,)], "v array<float>")
    qz = quantize_embedding(F.col("v"))
    row = df.select(
        qz["codes"].alias("codes"),
        qz["vmin"].alias("vmin"),
        qz["vmax"].alias("vmax"),
        qz["mse"].alias("mse"),
        dequantize(qz["codes"], qz["vmin"], qz["vmax"]).alias("xhat"),
        F.transform(F.col("v"), lambda x: x.cast("double")).alias("x"),
    ).collect()[0]
    assert all(0 <= c <= 255 for c in row["codes"])
    scale = (row["vmax"] - row["vmin"]) / 255.0
    tol = scale / 2 + 1e-9 + abs(row["vmax"]) * 1e-12
    for x, xh in zip(row["x"], row["xhat"]):
        assert abs(x - xh) <= tol, (x, xh, scale)
    if row["vmax"] == row["vmin"]:
        assert set(row["codes"]) == {0}
    assert row["mse"] <= (scale / 2) ** 2 + 1e-9


@given(
    docs=st.lists(
        st.lists(st.integers(0, 9), min_size=0, max_size=30),
        min_size=0,
        max_size=6,
    ),
    k=st.integers(2, 4),
)
@settings(**SETTINGS)
def test_duplicate_spans_match_naive_gram_sets(spark, docs, k):
    """duplicate_spans == a literal Python computation: positions covered
    by k-grams appearing in >= 2 docs, merged into maximal contiguous/
    overlapping islands."""
    from fireball_data_processing_spark.operators.dedup import duplicate_spans

    texts = [" ".join(f"w{t}" for t in toks) for toks in docs]
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, k=k, min_docs=2).collect()
    }

    # naive reference
    from collections import defaultdict

    where = defaultdict(set)  # gram -> set(doc)
    grams = []  # (doc, pos, gram)
    for i, toks in enumerate(docs):
        toks = [f"w{t}" for t in toks]
        for p in range(len(toks) - k + 1):
            g = " ".join(toks[p : p + k])
            where[g].add(i)
            grams.append((i, p, g))
    want = set()
    for i in range(len(docs)):
        hits = sorted(p for d, p, g in grams if d == i and len(where[g]) >= 2)
        cur = None
        for p in hits:
            if cur is None or p > cur[1]:
                if cur:
                    want.add((i, cur[0], cur[1]))
                cur = [p, p + k]
            else:
                cur[1] = max(cur[1], p + k)
        if cur:
            want.add((i, cur[0], cur[1]))
    assert got == want


@given(
    members=st.sets(st.integers(-(10**9), 10**9), min_size=0, max_size=40),
    probes=st.sets(st.integers(-(10**9), 10**9), min_size=0, max_size=40),
)
@settings(**SETTINGS)
def test_bloom_membership_superset(spark, members, probes):
    """Bloom never refuses a member (hard guarantee) — probes that ARE
    members must all pass regardless of key distribution, including
    negative keys."""
    from fireball_data_processing_spark.operators.sketches import (
        bloom_bitmap,
        bloom_might_contain,
    )

    if not members:
        return
    mdf = spark.createDataFrame([(int(m),) for m in members], "k bigint")
    bm = bloom_bitmap(mdf, "k")
    pdf = spark.createDataFrame(
        [(int(p),) for p in probes | members], "k bigint"
    )
    passed = {
        r["k"]
        for r in pdf.filter(bloom_might_contain(F.col("k"), bm)).collect()
    }
    assert members <= passed


@given(
    vals=st.lists(st.integers(0, 15), min_size=1, max_size=60),
)
@settings(**SETTINGS)
def test_cms_lower_bound_all_values(spark, vals):
    """CMS estimate >= true count for every distinct value, at a width
    small enough to force collisions."""
    from collections import Counter

    from fireball_data_processing_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([(f"v{v}",) for v in vals], "x string")
    true = Counter(f"v{v}" for v in vals)
    got = {
        r["value"]: (r["n_exact"], r["cms_est"])
        for r in heavy_hitters(df, "x", k=20, depth=3, width=8).collect()
    }
    assert set(got) == set(true)
    for v, (n_exact, est) in got.items():
        assert n_exact == true[v]
        assert est >= true[v], (v, est, true[v])


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=8).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=6,
    ),
    query=st.lists(st.sampled_from("abcd"), min_size=1, max_size=3).map(
        lambda ws: " ".join(ws)
    ),
)
@settings(**SETTINGS)
def test_bm25_matches_python_reference(spark, docs, query):
    """BM25 scores agree with a literal Python computation on arbitrary
    tiny corpora (empty docs, all-identical docs, query terms absent)."""
    import math
    from collections import Counter

    from fireball_data_processing_spark.operators.retrieval import bm25_search

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    q = spark.createDataFrame([(0, query)], "query_id bigint, query_text string")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_search(d, q, k=len(docs) + 1).collect()
    }

    toks = {i: t.split() for i, t in enumerate(docs)}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    k1, b = 1.2, 0.75
    want = {}
    for term in set(query.split()):
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for i, v in toks.items():
            tf = Counter(v)[term]
            if tf:
                want[i] = want.get(i, 0.0) + idf * (tf * (k1 + 1)) / (
                    tf + k1 * (1 - b + b * len(v) / avgdl)
                )
    want = {i: round(s, 6) for i, s in want.items()}
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) <= 1e-6, (i, got[i], want[i])


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=8).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=6,
    ),
)
@settings(**SETTINGS)
def test_doc_pmi_matches_python_reference(spark, docs):
    """PMI pair/df counts agree with itertools.combinations on arbitrary
    corpora, including docs with duplicate words and empty docs."""
    import itertools
    import math
    from collections import Counter

    from fireball_data_processing_spark.operators.collocations import doc_pmi

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    got = {
        (r["ta"], r["tb"]): (r["n_ab"], r["df_a"], r["df_b"], r["pmi"])
        for r in doc_pmi(d, min_pair_count=1).collect()
    }
    term_sets = [sorted(set(t.split())) for t in docs]
    n = len(docs)
    df = Counter(t for s in term_sets for t in s)
    pair_n = Counter(p for s in term_sets for p in itertools.combinations(s, 2))
    want = {
        (a, b): (c, df[a], df[b], round(math.log(c * n / (df[a] * df[b])), 6))
        for (a, b), c in pair_n.items()
    }
    assert got == want


# ---------------------------------------------------------------------
# snapshot diff == a literal dict diff
# ---------------------------------------------------------------------
snapshot_maps = st.tuples(
    st.dictionaries(st.integers(0, 15), st.text(max_size=4), max_size=12),
    st.dictionaries(st.integers(0, 15), st.text(max_size=4), max_size=12),
)


@given(snaps=snapshot_maps)
@settings(**SETTINGS)
def test_snapshot_diff_matches_dict_diff(spark, snaps):
    """snapshot_diff == the literal Python dict comparison, for arbitrary
    key overlaps and value collisions (including empty snapshots)."""
    from fireball_data_processing_spark.operators.snapshots import (
        fingerprint,
        snapshot_diff,
    )

    old_map, new_map = snaps

    def df_of(m):
        rows = [(k, v) for k, v in m.items()]
        d = spark.createDataFrame(rows, "k int, v string") if rows else (
            spark.createDataFrame([], "k int, v string")
        )
        return d.withColumn("fp", fingerprint([F.col("v")]))

    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(df_of(old_map), df_of(new_map), "k").collect()
    }
    want = {}
    for k in set(old_map) | set(new_map):
        if k not in old_map:
            want[k] = "added"
        elif k not in new_map:
            want[k] = "removed"
        elif old_map[k] == new_map[k]:
            want[k] = "unchanged"
        else:
            want[k] = "changed"
    assert got == want


# ---------------------------------------------------------------------
# temperature mixture rates == literal Python math
# ---------------------------------------------------------------------
bucket_counts = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]),
    st.integers(1, 50),
    min_size=1,
    max_size=4,
)


@given(counts=bucket_counts, alpha=st.sampled_from([0.0, 0.3, 0.5, 1.0]))
@settings(**SETTINGS)
def test_temperature_rates_match_python(spark, counts, alpha):
    from fireball_data_processing_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    rows = [(f"{b}{i}", b) for b, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "k string, bucket string")
    got = {
        r["bucket"]: (r["n_rows"], r["share"], r["weight"], r["keep_rate"])
        for r in temperature_mixture_rates(
            df, F.col("bucket"), alpha=alpha
        ).collect()
    }
    total = sum(counts.values())
    wraw = {b: (n / total) ** alpha for b, n in counts.items()}
    wsum = sum(wraw.values())
    for b, n in counts.items():
        share = round(n / total, 6)
        weight = round(wraw[b] / wsum, 6)
        rate = round(min(1.0, total * (wraw[b] / wsum) / n), 6)
        gn, gs, gw, gr = got[b]
        assert gn == n
        assert abs(gs - share) < 2e-6 and abs(gw - weight) < 2e-6
        assert abs(gr - rate) < 2e-6
    # expected kept volume stays within one doc of the corpus size when
    # every rate is < 1, and never exceeds it
    expected = sum(
        got[b][3] * n for b, n in counts.items()
    )
    assert expected <= total + 1e-6 * total


# ---------------------------------------------------------------------------
# round-4 operators: line_dedup reconstruction, winnowing vs literal python
# ---------------------------------------------------------------------------

_WORDS = ("aa", "bb", "cc", "dd", "ee")
corpus_texts = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=20).map(" ".join),
    min_size=1,
    max_size=8,
)


def _py_line_dedup(texts, seg_words, min_docs, keep_first):
    """Literal-Python twin of operators.dedup.line_dedup."""
    segs = {}
    for i, t in enumerate(texts):
        w = [x for x in t.lower().split() if x]
        # max(len, 1): an empty doc still yields one (empty) segment,
        # mirroring aligned_segments' sequence(0, greatest(size-1, 0))
        segs[i] = [
            " ".join(w[j : j + seg_words])
            for j in range(0, max(len(w), 1), seg_words)
        ]
    holders: dict[str, set[int]] = {}
    for i, ss in segs.items():
        for s in ss:
            holders.setdefault(s, set()).add(i)
    out = {}
    for i, ss in segs.items():
        kept, removed = [], 0
        for s in ss:
            dup = len(holders[s]) >= min_docs and not (
                keep_first and i == min(holders[s])
            )
            if dup:
                removed += 1
            else:
                kept.append(s)
        out[i] = (len(ss), removed, " ".join(kept))
    return out


@given(texts=corpus_texts, seg_words=st.integers(1, 5),
       min_docs=st.integers(1, 3), keep_first=st.booleans())
@settings(**SETTINGS)
def test_line_dedup_matches_literal_python(spark, texts, seg_words, min_docs, keep_first):
    from fireball_data_processing_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_removed_segments"], r["kept_text"])
        for r in line_dedup(
            df, seg_words=seg_words, min_docs=min_docs, keep_first=keep_first
        ).collect()
    }
    want = _py_line_dedup(texts, seg_words, min_docs, keep_first)
    assert got == want
    # reconstruction invariant: kept + removed counts tile every segment
    for i in got:
        assert got[i][1] <= got[i][0]


@given(texts=corpus_texts, k=st.integers(1, 4), window=st.integers(1, 5))
@settings(**SETTINGS)
def test_winnow_matches_literal_python_fuzz(spark, texts, k, window):
    import hashlib

    from fireball_data_processing_spark.functions.textstats import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=k, window=window).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for i, t in enumerate(texts):
        w = [x for x in t.lower().split() if x]
        if len(w) < k:
            assert i not in got
            continue
        grams = [
            hashlib.md5(" ".join(w[j : j + k]).encode()).hexdigest()
            for j in range(len(w) - k + 1)
        ]
        fps = {
            min(grams[j : j + window])
            for j in range(max(len(grams) - window + 1, 1))
        }
        assert got.get(i, set()) == fps, i


# ---------------------------------------------------------------------
# grouped budget fill (round 7): per-group fills must equal a literal
# greedy fill per group, for ANY bucketing — including null groups,
# groups without a budget row (dropped), zero budgets, and scores at
# the clamp edges
# ---------------------------------------------------------------------

fill_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),                 # group
        st.sampled_from([0.0, 0.2, 0.2, 0.5, 0.77, 1.0]),  # score
        st.integers(1, 9),                                 # weight
    ),
    min_size=1,
    max_size=25,
)


@given(rows=fill_rows, n_buckets=st.sampled_from([1, 3, 16]),
       budgets=st.fixed_dictionaries(
           {"a": st.integers(0, 40), "b": st.integers(0, 40)}))
@settings(**SETTINGS)
def test_grouped_budget_fill_matches_literal_greedy(
    spark, rows, n_buckets, budgets
):
    from fireball_data_processing_spark.operators import selection
    from fireball_data_processing_spark.operators.selection import budget_fill

    data = [(g, i, s, w) for i, (g, s, w) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "grp string, id long, score double, w long"
    )
    bdf = spark.createDataFrame(
        [("a", budgets["a"]), ("b", budgets["b"]), (None, 15)],
        "grp string, budget long",
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(selection, "_FILL_BUCKETS", n_buckets)
        got = {
            (r["grp"], r["id"], r["cum_weight"])
            for r in budget_fill(
                df, "score", "w", "id", budget=bdf, group_col="grp"
            ).collect()
        }
    want = set()
    full = dict(budgets)
    full[None] = 15
    for g, cap in full.items():
        members = sorted(
            ((s, i, w) for gg, i, s, w in data if gg == g),
            key=lambda t: (-t[0], t[1]),
        )
        cum = 0
        for s, i, w in members:
            cum += w
            if cum > cap:
                break
            want.add((g, i, cum))
    assert got == want


# ---------------------------------------------------------------------
# weighted reservoir sampling (round 7): the per-bucket top-n by
# u^(1/w) must match the literal md5 replay for arbitrary weights and
# bucket shapes — including all-equal weights (pure hash order),
# n larger than the bucket, and weight-1 rows (key = u itself)
# ---------------------------------------------------------------------

ws_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(1, 10_000)),
    min_size=1,
    max_size=20,
)


@given(rows=ws_rows, n=st.integers(1, 4))
@settings(**SETTINGS)
def test_weighted_sample_matches_md5_replay(spark, rows, n):
    import hashlib

    from fireball_data_processing_spark.operators.sampling import (
        weighted_sample_topn,
    )

    data = [(g, i, w) for i, (g, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "grp string, id long, w long")
    got = {
        (r["grp"], r["id"])
        for r in weighted_sample_topn(
            df, F.col("grp"), F.col("w"), n=n, key=F.col("id"), salt="h"
        ).collect()
    }

    def u(i):
        return int(hashlib.md5(f"h{i}".encode()).hexdigest()[:8], 16) / 2**32

    want = set()
    for g in {g for g, _, _ in data}:
        keyed = sorted(
            ((round(u(i) ** (1.0 / w), 12), -i) for gg, i, w in data if gg == g),
            reverse=True,
        )
        want |= {(g, -negi) for _, negi in keyed[:n]}
    assert got == want


# --- round-9 rank statistics: randomized parity with literal references ---

kw_pairs = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 2)),
    min_size=4,
    max_size=28,
)


def _kw_literal_pairs(pairs):
    from collections import Counter

    cnt = Counter(v for v, _ in pairs)
    n = len(pairs)
    rank, cum = {}, 0
    for v in sorted(cnt):
        rank[v] = cum + (cnt[v] + 1) / 2.0
        cum += cnt[v]
    groups = {}
    for v, g in pairs:
        groups.setdefault(g, []).append(rank[v])
    s = sum(sum(rs) ** 2 / len(rs) for rs in groups.values())
    h = 12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0)
    c = 1.0 - sum(t**3 - t for t in cnt.values()) / float(n**3 - n)
    return h, h / c


@given(pairs=kw_pairs)
@settings(**SETTINGS)
def test_kruskal_matches_literal_midranks(spark, pairs):
    # arbitrary tied integer samples over up to 3 groups: the
    # distinct-value-grain window form must equal the textbook
    # midrank computation (Kruskal & Wallis 1952) done literally
    from hypothesis import assume

    from fireball_data_processing_spark.operators.hyptest import kruskal_wallis

    assume(len({v for v, _ in pairs}) >= 2)  # c > 0
    df = spark.createDataFrame(
        [(float(v), f"g{g}") for v, g in pairs], "v double, g string"
    )
    r = kruskal_wallis(df, "v", "g").first()
    h, h_adj = _kw_literal_pairs(pairs)
    assert r["n"] == len(pairs)
    assert abs(r["h"] - h) < 1e-5, (r["h"], h)
    assert abs(r["h_adj"] - h_adj) < 1e-5, (r["h_adj"], h_adj)


sp_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(0, 5)),
    min_size=3,
    max_size=20,
)


@given(rows=sp_rows)
@settings(**SETTINGS)
def test_spearman_matrix_matches_pandas(spark, rows):
    # heavy-tie integer metrics: every pairwise rho must equal pandas
    # corr(method='spearman'), and a constant metric must yield NULL
    # where pandas yields NaN (the den > 0 guard)
    import math

    from fireball_data_processing_spark.operators.hyptest import spearman_matrix

    pdf = pd.DataFrame(rows, columns=["m1", "m2", "m3"])
    want = pdf.corr(method="spearman")
    df = spark.createDataFrame(
        [(i, float(a), float(b), float(c)) for i, (a, b, c) in enumerate(rows)],
        "id bigint, m1 double, m2 double, m3 double",
    )
    got = {
        (r["metric_a"], r["metric_b"]): r["rho"]
        for r in spearman_matrix(
            df, "id", {m: F.col(m) for m in ["m1", "m2", "m3"]}
        ).collect()
    }
    assert set(got) == {("m1", "m2"), ("m1", "m3"), ("m2", "m3")}
    for (a, b), rho in got.items():
        ref = want.loc[a, b]
        if math.isnan(ref):
            assert rho is None, (a, b, rho)
        else:
            assert rho is not None and abs(rho - ref) < 1e-5, (a, b, rho, ref)
