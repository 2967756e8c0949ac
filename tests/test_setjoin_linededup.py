"""Unit tests for the round-4 additions: cross-document line dedup,
prefix-filtered exact set-similarity join, and the bigram LM scorer —
each against a literal Python re-computation on constructed fixtures."""

from __future__ import annotations

import itertools
import math

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------------------
# line_dedup
# ---------------------------------------------------------------------------

SEG = "a b c d"  # 4-word segment shared across docs (seg_words=4 below)
FIXTURE = [
    (1, "a b c d unique one here now"),   # holds SEG at position 0 (keeper)
    (2, "a b c d other words go here"),   # holds SEG -> removed
    (3, "totally different content words x y z w"),
    (4, "a b c d"),                       # holds ONLY SEG -> emptied
]


def test_line_dedup_keep_first(spark):
    from fireball_data_processing_spark.operators.dedup import line_dedup

    out = {
        r["doc_id"]: r
        for r in line_dedup(_docs(spark, FIXTURE), seg_words=4).collect()
    }
    # doc 1 is the lowest doc_id holding SEG -> keeps it
    assert out[1]["n_removed_segments"] == 0
    assert out[1]["kept_text"] == "a b c d unique one here now"
    # docs 2 and 4 lose the duplicated segment, keep their unique tail
    assert out[2]["n_removed_segments"] == 1
    assert out[2]["kept_text"] == "other words go here"
    assert out[4]["n_removed_segments"] == 1
    assert out[4]["kept_text"] == ""
    # untouched doc passes through whole
    assert out[3]["n_removed_segments"] == 0
    assert out[3]["kept_text"] == FIXTURE[2][1]
    # n_segments counts all aligned windows (ceil(words/4))
    assert out[1]["n_segments"] == 2 and out[4]["n_segments"] == 1


def test_line_dedup_remove_everywhere_and_min_docs(spark):
    from fireball_data_processing_spark.operators.dedup import line_dedup

    out = {
        r["doc_id"]: r
        for r in line_dedup(
            _docs(spark, FIXTURE), seg_words=4, keep_first=False
        ).collect()
    }
    # RefinedWeb form: the keeper loses the segment too
    assert out[1]["n_removed_segments"] == 1
    assert out[1]["kept_text"] == "unique one here now"

    # min_docs=4 > the 3 holders -> nothing removed anywhere
    out3 = {
        r["doc_id"]: r
        for r in line_dedup(
            _docs(spark, FIXTURE), seg_words=4, min_docs=4
        ).collect()
    }
    assert all(r["n_removed_segments"] == 0 for r in out3.values())


def test_line_dedup_within_doc_repeat_not_cross_doc(spark):
    from fireball_data_processing_spark.operators.dedup import line_dedup

    # the same segment twice in ONE doc is not a cross-doc duplicate
    rows = [(1, "p q r s p q r s"), (2, "different words entirely here")]
    out = {
        r["doc_id"]: r for r in line_dedup(_docs(spark, rows), seg_words=4).collect()
    }
    assert out[1]["n_removed_segments"] == 0
    assert out[1]["kept_text"] == "p q r s p q r s"


# ---------------------------------------------------------------------------
# set_similarity_join
# ---------------------------------------------------------------------------


def _py_shingles(text: str, k: int = 3) -> frozenset[str]:
    w = text.lower().split()
    return frozenset(
        " ".join(w[i : i + k]) for i in range(len(w) - k + 1)
    ) if len(w) >= k else frozenset()


def _py_pairs(rows, threshold, k=3):
    sets = {i: _py_shingles(t, k) for i, t in rows}
    out = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sorted(sets.items()), 2):
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        if union and inter / union >= threshold:
            out[(ia, ib)] = (len(sa), len(sb), inter, round(inter / union, 6))
    return out


SIM_ROWS = [
    (1, "the cat sat on the mat today in the sun"),
    (2, "the cat sat on the mat today in the rain"),   # near-dup of 1
    (3, "the cat sat on the mat today in the sun"),    # exact dup of 1
    (4, "dogs bark loudly at the postman every single morning"),
    (5, "a completely unrelated string of words goes right here"),
    (6, "the cat sat on a mat"),                       # partial overlap
]


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.9, 1.0])
def test_set_similarity_join_matches_all_pairs(spark, threshold):
    from fireball_data_processing_spark.operators.setjoin import set_similarity_join

    got = {
        (r["id_a"], r["id_b"]): (r["n_a"], r["n_b"], r["n_inter"], r["jaccard"])
        for r in set_similarity_join(
            _docs(spark, SIM_ROWS), threshold=threshold, k=3
        ).collect()
    }
    assert got == _py_pairs(SIM_ROWS, threshold)


def test_set_similarity_exact_dup_is_jaccard_one(spark):
    from fireball_data_processing_spark.operators.setjoin import set_similarity_join

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in set_similarity_join(_docs(spark, SIM_ROWS), threshold=0.99).collect()
    }
    assert got == {(1, 3): 1.0}


def test_prefix_length_fp_boundary(spark):
    """tau * n landing on an exact integer must NOT shorten the prefix:
    0.55 * 100 is 55.00000000000001 in IEEE, and an unguarded ceil gives
    56 -> prefix 45 instead of the mathematically-correct 46."""
    from fireball_data_processing_spark.operators.setjoin import prefix_candidates

    sets = spark.createDataFrame(
        [(1, f"s{i:03d}") for i in range(100)], "doc_id bigint, shingle string"
    )
    pins: list = []
    prefix_candidates(sets, 0.55, pins).collect()
    try:
        assert pins[0].count() == 46
    finally:
        for p in pins:
            p.unpersist()


def test_length_filter_keeps_jaccard_exactly_tau(spark):
    """A pair at Jaccard exactly tau passes the length filter, where
    tau * |A| rounds up in IEEE: tau = 0.55, |A| = 100 and B the first 55
    shingles of A (0.55 * 100 is 55.00000000000001 > 55)."""
    from fireball_data_processing_spark.operators.setjoin import (
        prefix_candidates,
        set_similarity_join,
    )

    words = [f"w{i:03d}" for i in range(100)]
    sets = spark.createDataFrame(
        [(d, w) for d, n in ((1, 100), (2, 55)) for w in words[:n]],
        "doc_id bigint, shingle string",
    )
    pins: list = []
    try:
        got = [tuple(r) for r in prefix_candidates(sets, 0.55, pins).collect()]
    finally:
        for p in pins:
            p.unpersist()
    assert got == [(1, 2)]
    docs = _docs(spark, [(1, " ".join(words)), (2, " ".join(words[:55]))])
    pairs = set_similarity_join(docs, threshold=0.55, k=1).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(1, 2, 0.55)]


def test_set_similarity_bad_threshold(spark):
    from fireball_data_processing_spark.operators.setjoin import set_similarity_join

    with pytest.raises(ValueError):
        set_similarity_join(_docs(spark, SIM_ROWS), threshold=0.0)


def test_checkpoint_dir_parity(spark, tmp_path):
    """checkpoint_dir materializes the identical result via parquet
    instead of executor-local storage."""
    from fireball_data_processing_spark.operators.setjoin import set_similarity_join

    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    local = {
        key(r): r.asDict()
        for r in set_similarity_join(_docs(spark, SIM_ROWS), threshold=0.5).collect()
    }
    durable = {
        key(r): r.asDict()
        for r in set_similarity_join(
            _docs(spark, SIM_ROWS),
            threshold=0.5,
            checkpoint_dir=str(tmp_path / "setjoin_ckpt"),
        ).collect()
    }
    assert local == durable


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------

LM_ROWS = [
    (1, "a b a b c"),
    (2, "a b c"),
    (3, "c c c c"),
    (4, "solo"),  # single token -> no bigram -> absent from output
]


def _py_bigram(rows, alpha=0.5):
    toks = {i: t.lower().split() for i, t in rows}
    vocab = {w for ws in toks.values() for w in ws}
    cb: dict[tuple[str, str], int] = {}
    cp: dict[str, int] = {}
    for ws in toks.values():
        for a, b in zip(ws, ws[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
            cp[a] = cp.get(a, 0) + 1
    out = {}
    for i, ws in toks.items():
        scores = [
            -math.log2(
                (cb[(a, b)] + alpha) / (cp[a] + alpha * len(vocab))
            )
            for a, b in zip(ws, ws[1:])
        ]
        if scores:
            out[i] = (round(sum(scores) / len(scores), 6), len(scores))
    return out


def test_bigram_logprob_matches_literal(spark):
    from fireball_data_processing_spark.functions.textstats import bigram_logprob

    got = {
        r["doc_id"]: (r["avg_neg_log2_bigram_prob"], r["n_bigrams"])
        for r in bigram_logprob(_docs(spark, LM_ROWS)).collect()
    }
    want = _py_bigram(LM_ROWS)
    assert set(got) == set(want) == {1, 2, 3}
    for i in want:
        assert got[i][1] == want[i][1]
        assert got[i][0] == pytest.approx(want[i][0], abs=2e-6)


def test_bigram_logprob_repetitive_doc_scores_lower(spark):
    from fireball_data_processing_spark.functions.textstats import bigram_logprob

    got = {
        r["doc_id"]: r["avg_neg_log2_bigram_prob"]
        for r in bigram_logprob(_docs(spark, LM_ROWS)).collect()
    }
    # "c c c c" repeats one high-count transition -> more probable than
    # doc 2's unique path
    assert got[3] < got[1]


def test_prefix_filter_prunes_on_real_corpus(spark, sf_dir):
    """Scale property on the synthetic corpus: prefix filtering admits a
    small fraction of all doc pairs (it is the whole point of the
    operator), while remaining a superset of the true result."""
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.operators.setjoin import (
        prefix_candidates,
        set_similarity_join,
        shingle_sets,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = d.count()
    all_pairs = n_docs * (n_docs - 1) // 2
    sets = shingle_sets(d, 3)
    cands = {
        (r["id_a"], r["id_b"])
        for r in prefix_candidates(sets, 0.5).collect()
    }
    assert len(cands) < 0.02 * all_pairs, (len(cands), all_pairs)
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in set_similarity_join(d, threshold=0.5, k=3).collect()
    }
    assert true_pairs <= cands


# ---------------------------------------------------------------------------
# winnow_fingerprints / ngram_containment
# ---------------------------------------------------------------------------


def _py_winnow(text: str, k: int, window: int) -> set[str]:
    import hashlib

    w = [t for t in text.lower().split() if t]
    if len(w) < k:
        return set()
    grams = [
        hashlib.md5(" ".join(w[i : i + k]).encode()).hexdigest()
        for i in range(len(w) - k + 1)
    ]
    fps = set()
    for j in range(max(len(grams) - window + 1, 1)):
        fps.add(min(grams[j : j + window]))
    return fps


WINNOW_ROWS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "x y alpha beta gamma delta epsilon zeta eta q r s"),  # shares a 7+ word run with 1
    (3, "one two three"),                                      # shorter than k -> no grams
    (4, "one two three four"),                                 # exactly one gram -> one fp
    (5, "completely different words with no shared runs at all here"),
]


def test_winnow_matches_literal_python(spark):
    from fireball_data_processing_spark.functions.textstats import (
        winnow_fingerprints,
    )

    got: dict[int, set[str]] = {}
    for r in winnow_fingerprints(_docs(spark, WINNOW_ROWS), k=4, window=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for i, t in WINNOW_ROWS:
        want = _py_winnow(t, 4, 4)
        assert got.get(i, set()) == want, i
    assert 3 not in got and len(got[4]) == 1


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # docs 1 and 2 share an 8-word run >= k+window-1 = 7 words, so the
    # winnowing guarantee promises at least one common fingerprint
    from fireball_data_processing_spark.functions.textstats import (
        winnow_fingerprints,
    )

    fps: dict[int, set[str]] = {}
    for r in winnow_fingerprints(_docs(spark, WINNOW_ROWS), k=4, window=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[5])


def test_ngram_containment_full_swallow_scores_one(spark):
    from fireball_data_processing_spark.operators.dedup import ngram_containment

    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    train = _docs(
        spark,
        [
            (1, "prefix words then the quick brown fox jumps and more after"),
            (2, "the quick brown cat sleeps"),   # shares 1 of 3 shingles
            (3, "nothing in common at all"),
        ],
    )
    got = {
        r["doc_id"]: (r["n_bench_grams"], r["n_shared"], r["containment"])
        for r in ngram_containment(train, bench, k=3).collect()
    }
    # bench has 3 distinct 3-shingles; doc 1 contains the item verbatim
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 1, round(1 / 3, 6))
    assert 3 not in got
    # min_containment filters doc 2 out
    kept = {
        r["doc_id"]
        for r in ngram_containment(train, bench, k=3, min_containment=0.5).collect()
    }
    assert kept == {1}


def py_bleu(pred: str, ref: str) -> float | None:
    """Literal-Python twin for tests (same smoothing/BP definitions)."""
    pw = pred.lower().split()
    rw = ref.lower().split()
    if not pw:
        return None
    logs = []
    for n in range(1, 3):
        pg: dict[tuple[str, ...], int] = {}
        rg: dict[tuple[str, ...], int] = {}
        for i in range(len(pw) - n + 1):
            g = tuple(pw[i : i + n])
            pg[g] = pg.get(g, 0) + 1
        for i in range(len(rw) - n + 1):
            g = tuple(rw[i : i + n])
            rg[g] = rg.get(g, 0) + 1
        clipped = sum(min(c, rg.get(g, 0)) for g, c in pg.items())
        denom = sum(pg.values())
        logs.append(math.log((clipped + 1) / (denom + 1)))
    bp = min(1.0, math.exp(1 - len(rw) / len(pw)))
    return round(bp * math.exp(sum(logs) / 2), 6)


# ---------------------------------------------------------------------------
# bleu_pairs
# ---------------------------------------------------------------------------

BLEU_ROWS = [
    (1, "the cat sat on the mat", "the cat sat on the mat"),      # identical
    (2, "the cat sat on the mat", "a dog ran through a field"),   # disjoint
    (3, "the cat sat on the mat today", "the cat sat on the mat"),# longer pred
    (4, "the cat", "the cat sat on the mat in the warm sun"),     # short pred, BP < 1... (pred shorter)
    (5, "one", "one"),                                            # single token, no bigram
    (6, "", "anything at all"),                                   # empty pred -> absent
]


def test_bleu_pairs_matches_literal_python(spark):
    from fireball_data_processing_spark.operators.evalmetrics import bleu_pairs

    df = spark.createDataFrame(
        BLEU_ROWS, "pair_id bigint, prediction string, reference string"
    )
    got = {r["pair_id"]: r for r in bleu_pairs(df, max_n=2).collect()}
    assert set(got) == {1, 2, 3, 4, 5}  # empty prediction absent
    for pid, p, r in BLEU_ROWS[:-1]:
        assert got[pid]["bleu"] == pytest.approx(py_bleu(p, r), abs=2e-6), pid
    # identical pair scores strictly higher than disjoint pair
    assert got[1]["bleu"] > got[2]["bleu"]
    # brevity penalty bites the short prediction
    assert got[4]["pred_len"] == 2 and got[4]["ref_len"] == 10
    assert got[4]["bleu"] < got[1]["bleu"]


def test_bleu_identical_pair_is_bp_free(spark):
    from fireball_data_processing_spark.operators.evalmetrics import bleu_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "alpha beta gamma delta")],
        "pair_id bigint, prediction string, reference string",
    )
    row = bleu_pairs(df, max_n=2).collect()[0]
    # all grams clip fully; only the add-1 smoothing keeps p_n below 1
    assert row["p1"] == pytest.approx(5 / 5, abs=0.21)
    assert row["bleu"] > 0.7


# ---------------------------------------------------------------------------
# mmr_rerank
# ---------------------------------------------------------------------------


def _py_mmr(cands, k, lam):
    """cands: list of (id, relevance, vector). Greedy MMR, ascending-id
    tiebreak, HALF_UP rounding of pair sims and each step's score BEFORE
    the argmax (mirrors the operator's replayable round_dp=6 contract)."""
    import numpy as np

    from fireball_data_processing_spark.functions.rounding import spark_round

    def _r6(a):
        return np.array(
            [spark_round(float(x), 6) if np.isfinite(x) else float(x) for x in a],
            dtype=float,
        )

    cands = sorted(cands)
    ids = [c[0] for c in cands]
    rel = np.array([c[1] for c in cands], dtype=float)
    vecs = [[float(x) for x in c[2]] for c in cands]

    def _fold(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    import math

    nrm = [math.sqrt(_fold(v, v)) or 1.0 for v in vecs]
    sims = np.stack(
        [
            _r6([_fold(a, b) / (na * nb) for b, nb in zip(vecs, nrm)])
            for a, na in zip(vecs, nrm)
        ]
    )
    selected, out = [], []
    # -inf like the operator (and MAX(ps.s) in the DuckDB oracle): with
    # negative cosines the penalty must be the true (negative) max, not
    # clamped at 0 — a zeros init silently floors it
    max_sim = np.full(len(ids), -np.inf)
    for rank in range(1, min(k, len(ids)) + 1):
        mmr = lam * rel - (1 - lam) * (max_sim if selected else np.zeros(len(ids)))
        key = _r6(mmr)
        key[selected] = -np.inf
        pick = int(np.argmax(key))
        out.append((ids[pick], rank, round(rel[pick], 6), float(key[pick])))
        selected.append(pick)
        max_sim = np.maximum(max_sim, sims[pick])
    return out


def test_mmr_rerank_matches_literal_python(spark):
    from fireball_data_processing_spark.operators.similarity import mmr_rerank

    # two near-identical high-relevance docs + a diverse mid-relevance
    # doc: pure relevance would take both twins; MMR must not
    cands = [
        (1, 101, 0.95, [1.0, 0.0, 0.0]),
        (1, 102, 0.94, [0.99, 0.01, 0.0]),   # twin of 101
        (1, 103, 0.80, [0.0, 1.0, 0.0]),     # diverse
        (1, 104, 0.60, [0.0, 0.0, 1.0]),
        (2, 201, 0.50, [1.0, 1.0, 0.0]),
        (2, 202, 0.40, [1.0, 0.9, 0.0]),
    ]
    df = spark.createDataFrame(
        cands,
        "query_id bigint, neighbor_id bigint, cosine_sim double, embedding array<double>",
    )
    got = {
        (r["query_id"], r["mmr_rank"]): (r["neighbor_id"], r["relevance"], r["mmr_score"])
        for r in mmr_rerank(df, k=3, lam=0.7).collect()
    }
    for q in (1, 2):
        want = _py_mmr([(i, s, v) for qq, i, s, v in cands if qq == q], 3, 0.7)
        for doc, rank, rel, score in want:
            assert got[(q, rank)] == (doc, rel, score), (q, rank)
    # the diversity property itself: 103 outranks the twin 102
    picks_q1 = [got[(1, r)][0] for r in (1, 2, 3)]
    assert picks_q1[0] == 101 and picks_q1[1] == 103


def test_mmr_rerank_negative_sims_matches_literal_python(spark):
    # anti-correlated vectors: pairwise cosines go NEGATIVE, so the
    # max-sim penalty is itself negative (a diversity BONUS) — the exact
    # regime where a zeros-initialized twin would clamp the penalty at 0
    # and diverge from operator + oracle (both carry the true max)
    from fireball_data_processing_spark.operators.similarity import mmr_rerank

    cands = [
        (1, 301, 0.90, [1.0, 0.0, 0.0]),
        (1, 302, 0.89, [-1.0, 0.0, 0.0]),   # cosine(301, 302) = -1
        (1, 303, 0.88, [-0.9, -0.1, 0.0]),  # negative vs 301, positive vs 302
        (1, 304, 0.10, [0.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        cands,
        "query_id bigint, neighbor_id bigint, cosine_sim double, embedding array<double>",
    )
    got = {
        (r["query_id"], r["mmr_rank"]): (r["neighbor_id"], r["relevance"], r["mmr_score"])
        for r in mmr_rerank(df, k=4, lam=0.5).collect()
    }
    want = _py_mmr([(i, s, v) for _, i, s, v in cands], 4, 0.5)
    assert len(want) == 4
    for doc, rank, rel, score in want:
        assert got[(1, rank)] == (doc, rel, score), rank
    # sanity: at least one later step's score EXCEEDS lam*rel (negative
    # penalty boosted it) — proves the fixture actually exercises the regime
    assert any(
        got[(1, r)][2] > 0.5 * got[(1, r)][1] + 1e-12 for r in (2, 3, 4)
    )


def test_mmr_lambda_one_is_pure_relevance(spark):
    from fireball_data_processing_spark.operators.similarity import mmr_rerank

    cands = [
        (1, 11, 0.9, [1.0, 0.0]),
        (1, 12, 0.8, [1.0, 0.0]),  # identical vector: irrelevant at lam=1
        (1, 13, 0.7, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        cands,
        "query_id bigint, neighbor_id bigint, cosine_sim double, embedding array<double>",
    )
    order = [
        r["neighbor_id"]
        for r in mmr_rerank(df, k=3, lam=1.0).orderBy("mmr_rank").collect()
    ]
    assert order == [11, 12, 13]


def test_winnow_pairs_recover_true_near_dups(spark, sf_dir):
    """Copy detection through the winnowed index recovers nearly all the
    exact-Jaccard near-dup pairs on the synthetic corpus — the
    guarantee's practical payoff (shared runs -> shared fingerprints)."""
    from fireball_data_processing_spark import queries as catalog

    truth = {
        (r["id_a"], r["id_b"])
        for r in catalog.REGISTRY["set_similarity_pairs"].fn(spark, sf_dir).collect()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in catalog.REGISTRY["winnow_copy_pairs"].fn(spark, sf_dir).collect()
    }
    assert truth, "fixture corpus must contain near-dups"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, (recall, len(truth), len(found))


def test_contamination_spans_and_removal(spark):
    """contamination_spans + remove_duplicate_spans surgically cut the
    leaked benchmark text out of a training doc, keeping the remainder."""
    from fireball_data_processing_spark.operators.dedup import (
        contamination_spans,
        remove_duplicate_spans,
    )

    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    train = _docs(
        spark,
        [
            # leaked 5-gram in the middle; unique prefix/suffix survive
            (1, "own start words alpha beta gamma delta epsilon own tail words"),
            (2, "nothing shared with the benchmark here at all today"),
        ],
    )
    spans = contamination_spans(train, bench, k=5)
    got = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in spans.collect()}
    assert got == {1: (3, 8)}
    scrubbed = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(train, spans).collect()
    }
    assert scrubbed[1] == "own start words own tail words"
    assert scrubbed[2] == "nothing shared with the benchmark here at all today"


def test_edit_distance_pairs_matches_literal_python(spark):
    """Levenshtein verification parity: distances and normalized ratios
    over dedup-normalized (whitespace-collapsed, lowercased) text must
    match a literal-Python DP replay, including the empty-text and
    truncation edges."""
    import pytest

    from fireball_data_processing_spark.operators.dedup import (
        edit_distance_pairs,
    )

    docs = [
        (1, "The quick  brown fox"),
        (2, "the quick brown fox"),    # only case/space differ -> dist 0
        (3, "the quack brown fax"),    # two substitutions
        (4, ""),
        (5, "x" * 50),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (4, 4)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["edit_dist"], r["edit_ratio"])
        for r in edit_distance_pairs(d, pairs, max_chars=30).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def norm(t):
        return " ".join(t.lower().split())[:30]

    txt = {i: norm(t) for i, t in docs}
    for (a, b), (dist, ratio) in got.items():
        want = lev(txt[a], txt[b])
        assert dist == want, (a, b)
        mx = max(len(txt[a]), len(txt[b]))
        assert ratio == pytest.approx(
            round(want / mx, 6) if mx else 0.0, abs=1e-9
        )
    assert got[(1, 2)][0] == 0          # normalization removes the diff
    assert got[(4, 4)] == (0, 0.0)      # empty-vs-empty ratio defined
    assert got[(4, 5)][1] == 1.0        # disjoint = ratio 1
