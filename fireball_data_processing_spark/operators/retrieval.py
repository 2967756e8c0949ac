"""Distributed text retrieval: TF-IDF weighting and BM25 ranked search.

A training-data pipeline needs lexical retrieval as a first-class
operator: tracing which corpus documents could have leaked an eval
answer (contamination forensics beyond exact n-gram hits), pulling
topical slices for targeted decontamination or up-sampling, and
auditing what a dedup pass deleted. The reference's corpus tooling
stops at per-document statistics (``count_num_chars_in_dataset.py``);
this module adds the corpus-wide ranked-search layer on top of the
same tokenization used by :mod:`..functions.textstats`.

Scale design (the operator must survive a 100 TB corpus):

- **Queries are tiny, the corpus is not** — the distinct query-term set
  is broadcast and postings are filtered to query terms IMMEDIATELY
  after the explode, so everything downstream (tf, df, scoring) is
  proportional to matching postings, never to the corpus vocabulary.
- **Corpus stats are one cheap pass** — N and avgdl need only
  ``size(tokens)`` per doc (no explode), aggregated to a single row
  that re-enters the plan as a broadcast nested-loop join of 1 row.
- **No driver round-trips** — the whole search is one lazy plan;
  nothing is collected to pick "the vocabulary" or "the top terms".
- **Amortized form** — :func:`build_postings_index` materializes the
  postings once, hash-bucketed by term, so repeated searches prune to
  the buckets holding their query terms instead of re-tokenizing.

Determinism: scores are IEEE-double sums over per-term contributions;
both the summation tree and tie-handling are engine-dependent, so
ranked outputs order by ``(score DESC, doc_id)`` and surface scores
rounded — identical across Spark and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "TOKEN_PATTERN",
    "tokens",
    "bm25_search",
    "tf_idf_top_terms",
    "rrf_fuse",
    "build_postings_index",
    "bm25_search_from_index",
]

# Shared with the DuckDB oracle: lowercase alphanumeric runs. Keep in sync
# with oracle SQL in queries.py (regexp_extract_all on both engines).
TOKEN_PATTERN = "[a-z0-9]+"


def tokens(c: Column) -> Column:
    """Lowercased alphanumeric tokens of a text column (array<string>)."""
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def _corpus_stats(docs: DataFrame, text_col: str) -> DataFrame:
    """One-row frame (n_docs, avgdl) — a single agg pass over token
    counts, no explode. Broadcast-crossed into the scoring plan."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens(F.col(text_col)))).alias("avgdl"),
    )


def _postings(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    term_filter: DataFrame | None = None,
    by_term: bool = False,
) -> DataFrame:
    """(doc_id, dl, term, tf) for every distinct term of every doc.

    ``term_filter`` (a one-column ``term`` frame, broadcast) is applied
    BETWEEN the explode and the tf aggregation — joined above a built
    postings aggregate instead, the full corpus vocabulary would be
    shuffled first (Catalyst cannot push a join below an aggregation).

    ``by_term`` repartitions the (filtered) exploded stream on ``term``
    BEFORE the tf aggregation: hash(term) satisfies the aggregate's
    (doc_id, dl, term) clustering, so the aggregate runs in place and a
    downstream term-partitioned consumer (the df window, a per-term df
    aggregate) needs no further exchange. Only sensible
    when the stream is already term-pruned (search) or the consumer
    needs term partitioning anyway (tf_idf_top_terms): the trade is one
    repartition of occurrence-grain rows against the aggregate's own
    exchange PLUS the consumer's."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("toks"),
    )
    exploded = tok.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )
    if term_filter is not None:
        exploded = exploded.join(F.broadcast(term_filter), "term")
    if by_term:
        exploded = exploded.repartition(F.col("term"))
    return exploded.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def _bm25_contrib(k1: float, b: float) -> Column:
    """Per-(doc, term) BM25 contribution from columns tf, dl, df, n_docs,
    avgdl. Lucene's non-negative idf variant: ln(1 + (N-df+.5)/(df+.5))."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return idf * tf_norm


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Okapi BM25 top-k documents per query, as one declarative plan.

    Returns (query_id, rank, doc_id, score) with ``score`` rounded to 6
    decimals and rank ties broken by ``doc_id`` so results are
    engine-reproducible. ``df`` is true corpus document frequency (the
    early query-term filter drops non-matching postings but not the
    docs that define df, which is counted per term over the filtered
    postings themselves — identical because df only involves docs that
    DO contain the term). The one-row (n_docs, avgdl) corpus stats come
    from a second projection-only pass over ``docs``.
    """
    q_terms = _query_terms(queries)
    distinct_terms = q_terms.select("term").distinct()

    # ONE exchange for the whole per-term stage: hash-partitioning the
    # query-term-filtered postings stream on `term` alone satisfies the
    # clustering requirement of BOTH the tf aggregate (term is a subset
    # of its (doc_id, dl, term) keys) and the df count-window, so the
    # planner inserts no further shuffle for either (partition once for
    # several consumers, not one exchange per consumer). The
    # stream is already pruned to query-term postings by the broadcast
    # filter below, so the repartition carries matching postings only —
    # never the corpus vocabulary; no pinned partition count, AQE
    # coalesces.
    post = _postings(
        docs, "text", "doc_id", term_filter=distinct_terms, by_term=True
    )
    # df as a count-over-window on the SAME postings subtree (postings
    # have one row per (doc, term), so count over the term partition IS
    # document frequency) — a groupBy+join-back would duplicate the whole
    # tokenize/explode subtree in the physical plan, scanning the corpus
    # twice
    df_t = F.count(F.lit(1)).over(Window.partitionBy("term"))

    scored = (
        post.withColumn("df", df_t)
        .join(F.broadcast(_corpus_stats(docs, "text")))
        .withColumn("contrib", _bm25_contrib(1.2, 0.75))
        .join(F.broadcast(q_terms), "term")
        # same trick on the query grain: one repartition on query_id
        # satisfies the score aggregate's (query_id, doc_id) clustering
        # AND the rank window's partitioning — 2 exchanges -> 1
        .repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    return _top_k_scored(scored, k)


def _query_terms(queries: DataFrame) -> DataFrame:
    """``(query_id, term)``: the distinct tokens of each query."""
    return queries.select(
        F.col("query_id").alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col("query_text")))).alias("term"),
    )


def _top_k_scored(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, rank, doc_id, score)``: the ``k`` best docs per query.
    Ranked on the ROUNDED score: duplicate docs score bitwise-unequal
    across summation orders but equal after rounding, so the doc_id
    tie-break fires identically on every engine."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def tf_idf_top_terms(
    docs: DataFrame,
    top_n: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """The ``top_n`` highest TF-IDF terms of every document — the
    "what is this doc about" summary used for corpus browsing and
    topical mixture audits.

    TF-IDF here = (tf / dl) * ln(N / df), with ``min_df`` dropping
    hapax noise. Ties order alphabetically on term; weights rounded.
    Returns (doc_id, rank, term, weight). The full vocabulary df is a
    single self-aggregation of the postings — unlike search there is no
    query side, so nothing is broadcast except N.
    """
    post = _postings(docs, "text", "doc_id")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # df via count-over-window keeps ONE postings subtree (a groupBy +
    # join-back would tokenize the corpus twice); min_df then filters
    # before the weight math
    weighted = (
        post.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .filter(F.col("df") >= min_df)
        .join(F.broadcast(n_docs))
        .withColumn(
            "weight",
            F.round(
                (F.col("tf") / F.col("dl")) * F.log(F.col("n_docs") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("term")
    )
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("doc_id", "rank", "term", "weight")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists — the standard
    hybrid-search combiner (lexical BM25 + embedding cosine, or any mix):
    ``rrf = sum over lists of 1 / (k + rank)``, robust to incomparable
    score scales because only ranks enter the sum.

    Each input frame needs (query_id, doc_id, rank). Returns (query_id,
    rank, doc_id, rrf_score) with the fused rank ordering on the ROUNDED
    score + doc_id (engine-deterministic, same contract as
    :func:`bm25_search`). A doc absent from one list simply contributes
    no term — no outer-join scaffolding. Cost: one union of
    already-top-k-sized frames, one aggregation, one ranking window.
    """
    if not rankings:
        raise ValueError("need at least one ranking frame")
    u = rankings[0].select("query_id", "doc_id", "rank")
    for r in rankings[1:]:
        u = u.unionByName(r.select("query_id", "doc_id", "rank"))
    fused = u.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(k) + F.col("rank"))), 6).alias(
            "rrf_score"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "doc_id", "rrf_score")
    )


_N_BUCKETS = 64


def build_postings_index(docs: DataFrame, path: str) -> None:
    """Materialize the inverted index: postings parquet hash-bucketed by
    term (``term_bucket = pmod(hash(term), _N_BUCKETS)`` partition
    column) plus a one-row ``_stats`` side table (n_docs, avgdl) and a
    per-term ``_df`` table bucketed the same way.

    The corpus is tokenized exactly once; every later
    :func:`bm25_search_from_index` reads only the partitions holding
    its query terms (PartitionFilters prune the rest), which is what
    makes repeated search affordable on a 100 TB corpus.
    """
    post = _postings(docs, "text", "doc_id").withColumn(
        "term_bucket", F.pmod(F.hash("term"), F.lit(_N_BUCKETS))
    )
    post.write.mode("overwrite").partitionBy("term_bucket").parquet(
        os.path.join(path, "postings")
    )
    # df over the full vocabulary, readable with the same pruning
    spark = docs.sparkSession
    spark.read.parquet(os.path.join(path, "postings")).groupBy(
        "term_bucket", "term"
    ).agg(F.count(F.lit(1)).alias("df")).write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(os.path.join(path, "df"))
    _corpus_stats(docs, "text").write.mode("overwrite").parquet(
        os.path.join(path, "stats")
    )


def bm25_search_from_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k against a materialized :func:`build_postings_index`.

    The postings/df scans carry ``term_bucket IN (buckets of the query
    terms)`` — a literal partition filter (buckets derive from the same
    ``pmod(hash(term))`` expression on the broadcast query side, pushed
    as a semi-join on the partition column), so only the index
    fraction holding the query vocabulary is read.
    """
    q_terms = _query_terms(queries).withColumn(
        "term_bucket", F.pmod(F.hash("term"), F.lit(_N_BUCKETS))
    )
    buckets = q_terms.select("term_bucket").distinct()
    distinct_terms = q_terms.select("term_bucket", "term").distinct()

    post = (
        spark.read.parquet(os.path.join(path, "postings"))
        .join(F.broadcast(buckets), "term_bucket")
        .join(F.broadcast(distinct_terms), ["term_bucket", "term"])
    )
    df_t = spark.read.parquet(os.path.join(path, "df")).join(
        F.broadcast(distinct_terms), ["term_bucket", "term"]
    )
    stats = spark.read.parquet(os.path.join(path, "stats"))

    scored = (
        # df_t is already semi-joined to the query vocabulary, so it is
        # query-terms-sized — broadcast it; an SMJ here would shuffle
        # the (much larger) postings stream on term for no reason
        post.join(F.broadcast(df_t.select("term", "df")), "term")
        .join(F.broadcast(stats))
        .withColumn("contrib", _bm25_contrib(1.2, 0.75))
        .join(F.broadcast(q_terms.select("query_id", "term")), "term")
        .groupBy("query_id", "doc_id")
        # rank on the ROUNDED score, same contract as bm25_search: tied
        # docs differ bitwise across summation orders but agree after
        # rounding, so the doc_id tie-break fires identically on every
        # engine and this path stays order-equal to the direct search
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    return _top_k_scored(scored, k)
