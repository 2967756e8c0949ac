"""Ingest quality gate — the per-document twin of the batch quality
surface (``functions/textstats.py`` Gopher rules + bigram LM), completing
the ingest-gate family next to exact/near-dup/segment-scrub
(``dedup_stream.py``): "does this NEW document meet the corpus's quality
bar?", answered per micro-batch with zero cross-batch state.

Deployment shape (the CCNet production recipe, Wenzek et al. 2020): the
LANGUAGE MODEL IS FROZEN — batch jobs train the bigram LM over the
existing corpus and pick the perplexity threshold (e.g. from
``operators/selection.py score_percentile_gate``'s per-group percentile
cut at calibration time); the stream then applies that STATIC model and
FIXED threshold to every incoming document. A percentile computed inside
the stream would make admission depend on micro-batch composition —
the same document admitted at 3 am and rejected at peak — so the gate
deliberately takes a constant, and drift between the frozen LM and the
live stream is what ``drift_stream.py`` watches.

Plan, all stateless, so a stream can run :func:`quality_gate` per
micro-batch inside ``foreachBatch``:

1. **Gopher rules** are pure per-row expressions — they run inside the
   micro-batch plan unchanged (zero shuffles, codegen-resident).
2. **LM scoring** joins the doc's exploded bigrams against the static
   count table (compact: one row per DISTINCT corpus bigram, broadcast-
   able for most corpora; at 100 TB materialize to parquet and let the
   batch job refresh it) and rolls back up to doc grain. The rollup is
   a per-document aggregation of a static-index join — a pure function
   of (row, index) — so it needs no watermark-delayed streaming
   aggregation.

Extends the reference's filter surface (SURVEY §2.2's content filters
are all batch predicates) with the streaming ingest shape its corpus
jobs would need at scale.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.textstats import (
    bigram_occurrences,
    gopher_rules,
    word_arrays,
)

__all__ = [
    "LmIndex",
    "corpus_lm_index",
    "score_against_lm",
    "quality_gate",
]


class LmIndex(NamedTuple):
    """A frozen bigram LM: ``bigrams`` (prev, cur, cb), ``prevs``
    (prev, cp), ``vocab`` (one row, v). All three are plain DataFrames —
    materialize to parquet for a long-running stream and refresh on the
    batch cadence; sizes are distinct-bigram / distinct-token / 1."""

    bigrams: DataFrame
    prevs: DataFrame
    vocab: DataFrame


def corpus_lm_index(docs: DataFrame) -> LmIndex:
    """Train the frozen bigram LM over the existing corpus: bigram
    counts, continuation totals, vocabulary size — same tokenization
    and counting as the batch :func:`~fireball_data_processing_spark.
    functions.textstats.bigram_logprob` (normalized-text whitespace
    split), so a corpus doc scored against its own LM gets the same
    probability either way. One bigram explode + two aggregations; the
    index never stores text longer than a token.

    The context totals are NOT a second pass over the corpus: cp(prev)
    = sum over cur of cb(prev, cur), so ``prevs`` rolls up the compact
    bigram table (distinct-bigram grain, vocab²-bounded) instead of
    re-exploding every occurrence (which would run the tokenize+explode
    pipeline and an occurrence-grain shuffle twice). Counts are integers
    < 2^53, so the double sum is exact — identical cp to the
    occurrence-grain count."""
    pre = word_arrays(docs, "text")
    occ = bigram_occurrences(pre)
    bigrams = occ.groupBy(
        F.col("__prev").alias("prev"), F.col("__cur").alias("cur")
    ).agg(F.count(F.lit(1)).cast("double").alias("cb"))
    prevs = bigrams.groupBy("prev").agg(F.sum("cb").alias("cp"))
    vocab = pre.select(F.explode(F.col("__words")).alias("__t")).agg(
        F.countDistinct("__t").cast("double").alias("v")
    )
    return LmIndex(bigrams=bigrams, prevs=prevs, vocab=vocab)


def score_against_lm(docs: DataFrame, lm: LmIndex) -> DataFrame:
    """Score documents under a FROZEN LM:
    ``avg -log2 (c(v,w) + 0.5) / (c(v,·) + 0.5 * V)`` over the
    doc's bigrams, with counts looked up in the index (unseen bigrams
    and unseen contexts fall back to the smoothing mass — exactly what
    add-alpha is for). Output ``(doc_id, avg_neg_log2_bigram_prob,
    n_bigrams)``; docs with fewer than two tokens are absent (nothing
    to score), mirroring ``bigram_logprob``.

    Contrast with ``bigram_logprob``: that trains on the scored docs
    themselves (self-perplexity, the calibration-time tool); this
    applies an already-trained model to NEW rows — the ingest shape,
    and the semantics the streaming parity test pins.

    Plan: explode -> two LEFT equi-joins against the compact count
    tables (broadcast when compact) -> one-row vocab broadcast -> per-
    doc rollup. No window over the corpus, no self-training shuffles.
    """
    pre = word_arrays(docs, "text")
    occ = bigram_occurrences(pre)
    joined = (
        occ.join(
            lm.bigrams,
            (F.col("__prev") == F.col("prev"))
            & (F.col("__cur") == F.col("cur")),
            "left",
        )
        .drop("prev", "cur")
        .join(lm.prevs, F.col("__prev") == F.col("prev"), "left")
        .drop("prev")
        .crossJoin(F.broadcast(lm.vocab))
    )
    cb = F.coalesce(F.col("cb"), F.lit(0.0))
    cp = F.coalesce(F.col("cp"), F.lit(0.0))
    neg_log2 = -F.log2((cb + 0.5) / (cp + 0.5 * F.col("v")))
    avg = F.avg(neg_log2)
    avg = F.round(avg, 6)
    return joined.groupBy("doc_id").agg(
        avg.alias("avg_neg_log2_bigram_prob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def quality_gate(
    docs: DataFrame,
    lm: LmIndex,
    max_avg_neg_log2: float,
    gopher_kwargs: dict | None = None,
) -> DataFrame:
    """The combined batch gate — all input columns plus
    ``passes_gopher``, ``avg_neg_log2_bigram_prob``, ``n_bigrams``,
    ``passes_lm``, and ``passes_quality`` (the AND). A doc with no
    scorable bigram fails the LM leg (an unassessable doc is not
    admitted by default; Gopher's ``min_words`` would reject it anyway
    at production settings). Emits EVERY row with its verdict — the
    caller filters — so routed sinks can send rejects to a quarantine
    path instead of dropping them."""
    flags = gopher_rules(F.col("text"), **(gopher_kwargs or {}))
    scores = score_against_lm(docs, lm)
    passes_lm = F.coalesce(
        F.col("avg_neg_log2_bigram_prob") <= max_avg_neg_log2, F.lit(False)
    )
    return (
        docs.withColumn("passes_gopher", flags["passes_gopher"])
        .join(scores, "doc_id", "left")
        .withColumn("n_bigrams", F.coalesce("n_bigrams", F.lit(0)))
        .withColumn("passes_lm", passes_lm)
        .withColumn(
            "passes_quality", F.col("passes_gopher") & F.col("passes_lm")
        )
    )
