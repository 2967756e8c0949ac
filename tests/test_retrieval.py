"""Retrieval operators: BM25 / TF-IDF correctness vs a naive in-memory
reference, index-path equivalence, and plan-shape pins (broadcast query
side, partition pruning on the materialized index)."""

from __future__ import annotations

import contextlib
import io
import math
import os
import re
from collections import Counter

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators import retrieval
from fireball_data_processing_spark.operators.retrieval import (
    bm25_search,
    bm25_search_from_index,
    build_postings_index,
    tf_idf_top_terms,
)
from fireball_data_processing_spark.sources.tables import load_table

SMOKE = "/root/testdata/sf0.001"

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a quick spark job joins two tables with a hash join"),
    (3, "window aggregation in spark uses a shuffle exchange"),
    (4, "the dog sleeps"),
    (5, "hash join hash join hash join"),  # tf saturation case
    (6, "a quick spark job joins two tables with a hash join"),  # dup of 2
]
QUERIES = [(1, "quick spark join"), (2, "lazy dog")]


def _tokenize(t):
    return re.findall(r"[a-z0-9]+", t.lower())


def _naive_bm25(docs, queries, k=3, k1=1.2, b=0.75):
    toks = {d: _tokenize(t) for d, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for qid, qtext in queries:
        scores = {}
        for term in set(_tokenize(qtext)):
            df = sum(1 for v in toks.values() if term in v)
            if df == 0:
                continue
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            for d, v in toks.items():
                tf = Counter(v)[term]
                if tf == 0:
                    continue
                dl = len(v)
                scores[d] = scores.get(d, 0.0) + idf * (tf * (k1 + 1)) / (
                    tf + k1 * (1 - b + b * dl / avgdl)
                )
        ranked = sorted(
            ((round(s, 6), d) for d, s in scores.items()),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        out[qid] = [(r + 1, d, s) for r, (s, d) in enumerate(ranked)]
    return out


def test_bm25_matches_naive(spark):
    d = spark.createDataFrame(DOCS, ["doc_id", "text"])
    q = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    got = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_search(d, q, k=3).collect()
    }
    want = _naive_bm25(DOCS, QUERIES, k=3)
    assert len(got) == sum(len(v) for v in want.values())
    for qid, rows in want.items():
        for rank, doc, score in rows:
            gdoc, gscore = got[(qid, rank)]
            assert gdoc == doc, (qid, rank, gdoc, doc)
            assert abs(gscore - score) < 1e-6


def test_bm25_duplicate_docs_tiebreak_by_id(spark):
    # docs 2 and 6 are identical: equal rounded scores, doc 2 must rank first
    d = spark.createDataFrame(DOCS, ["doc_id", "text"])
    q = spark.createDataFrame([(1, "quick spark join")], ["query_id", "query_text"])
    rows = bm25_search(d, q, k=6).orderBy("rank").collect()
    pos = {r.doc_id: r.rank for r in rows}
    assert pos[2] < pos[6]
    s = {r.doc_id: r.score for r in rows}
    assert s[2] == s[6]


def test_tf_idf_top_terms_naive(spark):
    d = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = tf_idf_top_terms(d, top_n=2, min_df=2).collect()
    # doc 5 is all "hash join": both terms have df=3 (docs 2, 5, 6)
    got5 = sorted((r.rank, r.term) for r in rows if r.doc_id == 5)
    assert [t for _, t in got5] == ["hash", "join"]  # equal weight, term tiebreak
    n, df = 6, 3
    want_w = round((3 / 6) * math.log(n / df), 6)
    assert all(
        abs(r.weight - want_w) < 1e-9 for r in rows if r.doc_id == 5
    )
    # min_df=2 drops hapax terms: "fox" (df=1) never appears
    assert not [r for r in rows if r.term == "fox"]


def test_index_path_equals_direct_search(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(retrieval, "_N_BUCKETS", 16)
    d = load_table(spark, SMOKE, "documents")
    q = spark.createDataFrame(
        [(1, "spark window aggregation"), (2, "hash join")],
        ["query_id", "query_text"],
    )
    direct = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_search(d, q, k=5).collect()
    }
    path = str(tmp_path / "idx")
    build_postings_index(d, path)
    via_index = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_search_from_index(spark, path, q, k=5).collect()
    }
    assert direct == via_index


def test_rrf_fuse_matches_naive(spark):
    from fireball_data_processing_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)], ["query_id", "doc_id", "rank"]
    )
    sem = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2)], ["query_id", "doc_id", "rank"]
    )
    got = {
        r.doc_id: (r.rank, r.rrf_score)
        for r in rrf_fuse([lex, sem], k=60, topk=4).collect()
    }
    want_scores = {
        10: round(1 / 61, 6),
        20: round(1 / 62 + 1 / 61, 6),  # in both lists: two terms
        30: round(1 / 63, 6),
        40: round(1 / 62, 6),
    }
    order = sorted(want_scores, key=lambda d: (-want_scores[d], d))
    for pos, doc in enumerate(order, start=1):
        assert got[doc] == (pos, want_scores[doc])
    # doc in both lists outranks every single-list doc
    assert got[20][0] == 1


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    return buf.getvalue()


def test_bm25_plan_broadcasts_query_side(spark):
    d = load_table(spark, SMOKE, "documents")
    q = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    s = _explain_str(bm25_search(d, q, k=5))
    # query-term filter, corpus stats, and query join all broadcast;
    # only the postings aggregations shuffle
    assert s.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in s  # 1-row stats cross join
    # df must come from a count-over-window on the one postings subtree,
    # never a groupBy+join-back (that duplicates the tokenize subtree and
    # shows up as a shuffle join here)
    assert "SortMergeJoin" not in s
    # postings tf agg + df window + score agg + rank window, plus the
    # distinct() on the few-row query-terms frame
    assert len(re.findall(r"Exchange (hash|range)partitioning", s)) <= 5


def test_index_search_prunes_term_buckets(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(retrieval, "_N_BUCKETS", 16)
    d = load_table(spark, SMOKE, "documents")
    path = str(tmp_path / "idx")
    build_postings_index(d, path)
    q = spark.createDataFrame([(1, "spark")], ["query_id", "query_text"])
    out = bm25_search_from_index(spark, path, q, k=5)
    assert out.count() > 0
    # the postings scan must carry the term_bucket partition column join
    # (dynamic pruning via the broadcast bucket set); assert the scan is
    # partition-aware rather than full-index
    s = _explain_str(out)
    assert "term_bucket" in s


def test_bm25_index_follows_a_rewritten_documents_table(spark, tmp_path):
    """The catalog's postings-index cache keys on the documents listing,
    not the sf_dir string: a table rewritten under the same path gets a
    fresh index (results follow the new rows) and the replaced index
    directory is removed."""
    from fireball_data_processing_spark import queries

    sf_dir = str(tmp_path)
    path = f"{sf_dir}/documents.parquet"
    spark.createDataFrame(
        [(i, "spark window aggregation over a hash join") for i in range(1, 5)],
        "doc_id bigint, text string",
    ).write.mode("overwrite").parquet(path)
    first = {r.doc_id for r in queries.q_bm25_search_indexed(spark, sf_dir).collect()}
    assert first == {1, 2, 3, 4}
    old_index = queries._BM25_INDEX_CACHE[sf_dir][1]

    spark.createDataFrame(
        [(i, "stream batch query with a shuffle partition") for i in range(10, 13)],
        "doc_id bigint, text string",
    ).write.mode("overwrite").parquet(path)
    second = queries.q_bm25_search_indexed(spark, sf_dir)
    direct = queries.q_bm25_search(spark, sf_dir)
    assert {r.doc_id for r in second.collect()} == {10, 11, 12}
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, direct.collect()))
    assert not os.path.exists(old_index)

    new_index = queries._BM25_INDEX_CACHE[sf_dir][1]
    queries._drop_bm25_indexes()
    assert not os.path.exists(new_index)
