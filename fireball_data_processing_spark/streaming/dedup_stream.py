"""Streaming deduplication — the ingest-side gate of a training-data
pipeline.

The batch dedup family (``operators/dedup.py``) answers "which existing
docs duplicate each other"; this module answers the firehose question:
"is this NEW document already in the corpus?" — the shape a
Kinesis/Kafka-fed ingestion job needs. Both gates are stateless per
micro-batch, so a stream applies them inside ``foreachBatch`` (the
ingest capstone, ``streaming/capstone.py``):

1. exact: per-row content hash (md5 over normalized text — same
   normalization as ``exact_dedup_groups``, so the stream agrees with
   the batch index) LEFT ANTI joined against :func:`corpus_hash_index`
   (the static side is re-scannable per micro-batch, and broadcastable
   when the index is compact);
2. near: per-row MinHash signature (:func:`~fireball_data_
   processing_spark.operators.dedup.minhash_sig_expr`, no shuffle) ->
   LSH band keys -> stateless lookups against :func:`corpus_band_index`
   over the corpus signatures (:func:`near_new_documents`).

At 100 TB the index side is the materialized hash column of the corpus
(one 32-byte md5 per doc — ~3 TB/100B docs, parquet-scannable), refreshed
by the batch job.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.text import normalize_text
from fireball_data_processing_spark.operators.dedup import (
    band_structs,
    minhash_sig_expr,
    shingles_of_words,
)


def content_hash() -> F.Column:
    """The stream/batch-agreed exact-dedup key (normalized-text md5)."""
    return F.md5(normalize_text(F.col("text")))


def corpus_hash_index(corpus: DataFrame) -> DataFrame:
    """Distinct content hashes of the existing corpus — the static side of
    the stream-static anti join. Materialize to parquet for a long-running
    stream so micro-batches rescan the compact index, not the corpus."""
    return corpus.select(content_hash().alias("content_hash")).distinct()


# --- near-duplicate gate ------------------------------------------------

# Unbound-Column cache for the near gate's per-row expressions: the MinHash
# signature (an aggregate-over-transform tree, md5 per seed per shingle) and
# the namespaced band keys are by far the largest expression trees in the
# streaming surface, and a foreachBatch stream rebuilt them from Python on
# EVERY micro-batch — pure py4j plan-construction chatter, measured as a
# driver-side cost comparable to the epoch's actual job at sf0.1. Columns
# are immutable and unbound (resolved by name against whichever frame they
# are applied to), so one tree serves every epoch and every batch caller.
_NEAR_EXPR_CACHE: dict[tuple, tuple[F.Column, list[F.Column]]] = {}


def _near_gate_exprs(
    text_col: str,
    num_hashes: int,
    band_size: int,
    shingle_k: int,
) -> tuple[F.Column, list[F.Column]]:
    key = (text_col, num_hashes, band_size, shingle_k)
    hit = _NEAR_EXPR_CACHE.get(key)
    if hit is None:
        sh = shingles_of_words(
            F.split(normalize_text(F.col(text_col)), " "), shingle_k
        )
        sig_col = minhash_sig_expr(sh, num_hashes)
        band_cols = []
        for b in range(num_hashes // band_size):
            # probe key namespaced by band index ("{b}#{band_key}") so
            # every band's lookup can share ONE index subtree in
            # near_new_documents; '#' cannot appear in the digit-only
            # band_idx, so the concat is injective and "b#key" equality
            # <=> (band_idx = b AND band_key = key)
            band_key = F.concat_ws(
                "|",
                *[
                    F.element_at("__sig", i + 1)
                    for i in range(b * band_size, (b + 1) * band_size)
                ],
            )
            band_cols.append(F.concat_ws("#", F.lit(str(b)), band_key))
        hit = _NEAR_EXPR_CACHE[key] = (sig_col, band_cols)
    return hit


def corpus_band_index(
    sigs: DataFrame, num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Distinct LSH ``(band_idx, band_key)`` pairs of a signature table
    (e.g. ``minhash_signature`` output) — the static side of the
    streaming near-dup gate. One row per occupied bucket, so it is far
    smaller than the corpus; materialize to parquet for a long-running
    stream and refresh it from the batch index job."""
    return (
        sigs.select(F.explode(band_structs(num_hashes, band_size)).alias("b"))
        .select(F.col("b.band_idx"), F.col("b.band_key"))
        .distinct()
    )


def near_new_documents(docs: DataFrame, band_index: DataFrame) -> DataFrame:
    """Rows of ``docs`` whose MinHash signature shares NO LSH band with the
    index — i.e. docs with no near-duplicate already in the corpus (at the
    recall of the banding scheme; same bands as ``lsh_candidate_pairs``).

    Every stage is stateless, so this works identically on batch AND
    streaming frames: the signature is the per-row expression
    :func:`minhash_sig_expr` (the explode→groupBy batch formulation would
    be a stateful streaming aggregation), and the bucket probe is one
    LEFT join per band against the band-partitioned index — ``n_bands``
    stream-static equi joins, broadcastable when the index is compact.
    Docs too short to shingle have no bands and always pass (they cannot
    near-duplicate anything under the shingle model).
    """
    n_bands = 8 // 2
    sig_col, band_cols = _near_gate_exprs("text", 8, 2, 3)
    out = docs.withColumn("__sig", sig_col)
    helpers = ["__sig"]
    for b in range(n_bands):
        out = out.withColumn(f"__band{b}", band_cols[b])
        helpers.append(f"__band{b}")
    # ONE namespaced index projection shared by every band's join: the
    # per-band `filter(band_idx == b)` form built n_bands DISTINCT build
    # sides, so each micro-batch (and each batch run) paid n_bands
    # broadcast builds of the same index; with an identical subtree on
    # every join, Spark's exchange reuse materializes the broadcast ONCE
    # per plan and the remaining joins are pure probes (in the capstone
    # this repeats every epoch, so the saving multiplies by the epoch
    # count).
    keyed_index = band_index.select(
        F.concat_ws(
            "#", F.col("band_idx").cast("string"), F.col("band_key")
        ).alias("__ikey"),
        F.lit(True).alias("__ihit"),
    )
    for b in range(n_bands):
        # keyed_index is distinct on __ikey, so each LEFT join matches at
        # most one row — flags, never row multiplication
        side = keyed_index.select(
            F.col("__ikey").alias(f"__bk{b}"),
            F.col("__ihit").alias(f"__hit{b}"),
        )
        out = out.join(side, F.col(f"__band{b}") == F.col(f"__bk{b}"), "left")
        helpers += [f"__bk{b}", f"__hit{b}"]
    no_hit = functools.reduce(
        operator.and_, [F.col(f"__hit{b}").isNull() for b in range(n_bands)]
    )
    return out.filter(no_hit).drop(*helpers)


# --- segment-scrub gate (streaming line dedup) --------------------------


def corpus_segment_index(
    corpus: DataFrame,
    seg_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Boilerplate-segment index: distinct md5 hashes of aligned segments
    held by at least ``min_docs`` DISTINCT corpus documents — the static
    side of the streaming segment scrub. One row per boilerplate segment
    (32-byte hash, never text), far smaller than the corpus; materialize
    to parquet for a long-running stream and refresh it from the batch
    :func:`~fireball_data_processing_spark.operators.dedup.line_dedup`
    job's cadence."""
    from fireball_data_processing_spark.operators.dedup import aligned_segments

    return (
        aligned_segments(corpus, seg_words)
        .groupBy(F.md5("segment").alias("seg_hash"))
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("seg_hash")
    )


def scrub_segments(
    docs: DataFrame,
    seg_index: DataFrame,
    seg_words: int = 8,
) -> DataFrame:
    """Remove every indexed segment from ``docs`` — the RefinedWeb-style
    scrub of INCOMING documents against the existing corpus's boilerplate
    (the batch :func:`~...operators.dedup.line_dedup` decides duplicates
    WITHIN a corpus; this applies an already-built index to new rows).

    Output: all original columns, with ``text`` replaced by the
    scrubbed text plus ``n_segments``/``n_removed_segments`` counters.
    Docs reduced to nothing keep an empty string (callers drop or route
    them; the counters make the predicate trivial).

    Plan: segment explode -> LEFT join the hash index (hit flags, never
    row multiplication — the index is distinct) -> per-doc rollup ->
    join back on the doc key to re-attach untouched payload columns (the
    rollup's exchange co-partitions that join). Pure function of (row,
    static index): no watermark, no state — which is what makes the
    streaming form below a stateless ``foreachBatch``.
    """
    from fireball_data_processing_spark.operators.dedup import aligned_segments

    segs = aligned_segments(docs.select("doc_id", "text"), seg_words)
    marked = segs.join(
        seg_index.withColumn("__hit", F.lit(True)),
        F.md5(F.col("segment")) == F.col("seg_hash"),
        "left",
    )
    kept_structs = F.sort_array(
        F.collect_list(F.when(F.col("__hit").isNull(), F.struct("seg_idx", "segment")))
    )
    scrubbed = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.col("__hit").isNotNull().cast("bigint")).alias(
            "n_removed_segments"
        ),
        F.concat_ws(" ", F.transform(kept_structs, lambda s: s["segment"])).alias(
            "__scrubbed"
        ),
    )
    passthrough = [c for c in docs.columns if c != "text"]
    return (
        docs.join(scrubbed, "doc_id")
        .select(
            *passthrough,
            F.col("__scrubbed").alias("text"),
            "n_segments",
            "n_removed_segments",
        )
    )
