"""End-to-end training-corpus pipeline: clean -> dedup -> quality gate ->
sequence packing, as ONE lazy DataFrame composition.

The capstone composition of the LLM-data operators (each stage is its
own tested module — this plan only wires them): C4 segment cleaning
(``functions/clean.py``), exact-hash deduplication (the
``operators/dedup.py`` semantics, survivor = smallest id), token-count
quality gates, and concat-and-chunk packing (``operators/packing.py``).
Mirrors the reference's distill chain shape (filter -> transform ->
assemble, ``distill1..4``) applied to corpus prep instead of RP triples.

Every stage is a pure ``DataFrame -> DataFrame`` function of the
previous one, so Catalyst sees the WHOLE pipeline as one plan: stage
boundaries cost nothing, pushdown crosses them, and a caller who only
consumes the packed manifest never materializes intermediates. Callers
doing multi-output runs (write every stage) should ``.persist()`` the
stages they fan out from — same rule as the minhash index split.

Near-dup removal (MinHash/LSH) and ExactSubstr span scrubbing
deliberately sit outside this plan: their candidate generation is
corpus-global and belongs on the ``minhash_signature`` /
``duplicate_spans`` paths, composed upstream when needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.clean import (
    clean_segments,
    doc_flags,
)
from fireball_data_processing_spark.operators.packing import (
    pack_sequences,
    token_count_col,
)


def clean_stage(docs: DataFrame) -> DataFrame:
    """C4 cleaning: keep surviving segments (50+ words) as the new text,
    drop documents that end up empty or carry a bad phrase."""
    seg = clean_segments(
        F.col("text"),
        min_words=50,
        require_terminal_punct=False,
    )
    flags = doc_flags(F.col("text"), bad_phrases=("lorem ipsum", "slow scan"))
    return (
        docs.select(
            "doc_id",
            "source",
            seg["kept_text"].alias("clean_text"),
            flags["has_bad_phrase"].alias("__bad"),
        )
        .filter((F.col("clean_text") != "") & ~F.col("__bad"))
        .drop("__bad")
    )


def segment_dedup_stage(
    cleaned: DataFrame, seg_words: int = 8, min_docs: int = 2
) -> DataFrame:
    """Optional cross-document segment dedup between cleaning and
    doc-level dedup — the modern pipeline order (C4/RefinedWeb scrub
    boilerplate SEGMENTS first, so document hashes downstream compare
    unique content, and near-identical docs that differ only in shared
    boilerplate collapse into exact duplicates).

    Applies :func:`~...operators.dedup.line_dedup` to the pipeline's
    text, re-attaches the payload columns on the doc key (co-partitioned
    with the rollup's exchange), and drops docs scrubbed to nothing.
    The surviving text is line_dedup's normalized form (lowercase,
    collapsed whitespace) — hash-canonical for every downstream stage.
    ``n_seg_removed`` rides along for stage audits."""
    from fireball_data_processing_spark.operators.dedup import line_dedup

    ld = line_dedup(
        cleaned,
        seg_words=seg_words,
        min_docs=min_docs,
        keep_first=True,
        text_col="clean_text",
    )
    return (
        cleaned.drop("clean_text")
        .join(
            ld.select(
                "doc_id",
                F.col("kept_text").alias("clean_text"),
                F.col("n_removed_segments").alias("n_seg_removed"),
            ),
            "doc_id",
        )
        .filter(F.col("clean_text") != "")
    )


def dedup_stage(cleaned: DataFrame) -> DataFrame:
    """Exact dedup on the CLEANED text (post-clean duplicates are the
    ones that matter): survivor = smallest doc_id per content hash. One
    shuffle on the 32-char md5, never on the text."""
    w_min = F.min("doc_id").over(Window.partitionBy("__h"))
    return (
        cleaned.withColumn("__h", F.md5(F.col("clean_text")))
        .withColumn("__keep", F.col("doc_id") == w_min)
        .filter("__keep")
        .drop("__h", "__keep")
    )


def quality_stage(deduped: DataFrame) -> DataFrame:
    """Token-count band gate, 5..5000 tokens (the P4/P7 guards at corpus
    scale)."""
    n = token_count_col(F.col("clean_text"))
    return deduped.withColumn("n_tokens", n).filter(
        (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000)
    )


def build_training_corpus(
    docs: DataFrame,
    normalize_form: str | None = None,
    segment_dedup_min_docs: int | None = None,
    segment_words: int = 8,
    domain_cap: int | None = None,
    mixture_alpha: float | None = None,
) -> dict[str, DataFrame]:
    """The full pipeline; returns every stage (all lazy):
    ``{["normalized",] "cleaned", "deduped", "quality"[, "capped"]
    [, "mixed"], "packed"}`` — ``packed`` is the training manifest
    ``(source, doc_id, bin_idx, tok_start, tok_end, offset_in_bin)`` in
    256-token bins.

    Optional stages, in pipeline order: ``normalize_form`` prepends
    unicode hygiene before anything hashes text;
    ``segment_dedup_min_docs`` scrubs cross-document boilerplate
    segments between cleaning and doc-level dedup; ``domain_cap`` applies
    the per-source quota; ``mixture_alpha`` temperature-rebalances the
    source mix just before packing (the modern pretraining shape:
    normalize -> clean -> segment-dedup -> dedup -> quality -> cap ->
    mix -> pack)."""
    if normalize_form is not None:
        docs = normalize_stage(docs, normalize_form)
    cleaned = clean_stage(docs)
    dedup_input = cleaned
    seg_deduped = None
    if segment_dedup_min_docs is not None:
        seg_deduped = segment_dedup_stage(
            cleaned, segment_words, segment_dedup_min_docs
        )
        dedup_input = seg_deduped
    deduped = dedup_stage(dedup_input)
    quality = quality_stage(deduped)
    stages = {"cleaned": cleaned, "deduped": deduped, "quality": quality}
    if seg_deduped is not None:
        stages = {
            "cleaned": cleaned,
            "segment_deduped": seg_deduped,
            "deduped": deduped,
            "quality": quality,
        }
    if normalize_form is not None:
        stages = {"normalized": docs, **stages}
    pack_input = quality
    if domain_cap is not None:
        pack_input = domain_cap_stage(pack_input, domain_cap)
        stages["capped"] = pack_input
    if mixture_alpha is not None:
        pack_input = mixture_stage(pack_input, mixture_alpha)
        stages["mixed"] = pack_input
    stages["packed"] = pack_sequences(
        pack_input,
        max_tokens=256,
        shard_col="source",
        order_col="doc_id",
        n_tokens=F.col("n_tokens"),
    )
    return stages


def normalize_stage(docs: DataFrame, form: str = "NFC") -> DataFrame:
    """Unicode hygiene ahead of everything hash-based: strip C0/C1
    control bytes (JVM regex) and unicode-normalize (Arrow-batched UDF)
    so composed/decomposed encodings of the same word cannot fragment
    dedup hashes, gram hashes, or the BPE vocabulary downstream."""
    from fireball_data_processing_spark.functions.clean import (
        normalize_unicode,
        strip_control_chars,
    )

    return docs.withColumn(
        "text", normalize_unicode(form)(strip_control_chars(F.col("text")))
    )


def domain_cap_stage(quality: DataFrame, cap: int) -> DataFrame:
    """C4-style per-source quota (:func:`..operators.sampling.
    capped_sample`): no source contributes more than ``cap`` documents,
    chosen by deterministic md5 rank. One window exchange on the source
    key."""
    from fireball_data_processing_spark.operators.sampling import (
        capped_sample,
    )

    return capped_sample(quality, F.col("source"), cap, F.col("doc_id"), "cap")


def mixture_stage(capped: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-scaled source rebalancing: keep rates from
    :func:`..operators.sampling.temperature_mixture_rates` (share^alpha
    proportions), applied with the scan-local hash threshold. The rate
    table is aggregate-sized and broadcast; computing it re-executes the
    upstream subtree once, so callers running this stage should
    ``.persist()`` the frame they pass in — the module's fan-out rule."""
    from fireball_data_processing_spark.operators.sampling import (
        hash_rank,
        temperature_mixture_rates,
    )

    rates = temperature_mixture_rates(
        capped, F.col("source"), alpha
    ).select(F.col("bucket").alias("source"), "keep_rate")
    return (
        capped.join(F.broadcast(rates), "source")
        .filter(hash_rank(F.col("doc_id"), "mix") < F.col("keep_rate"))
        .drop("keep_rate")
    )


def perplexity_stage(quality: DataFrame) -> DataFrame:
    """LM-quality gate (the CCNet recipe inside the pipeline): score the
    surviving documents with the corpus-bigram model trained on THIS
    stage's own survivors (self-trained, like CCNet's per-snapshot LM),
    then keep each source's least-perplexing 75% via
    the exact percent_rank cut. Adds ``avg_neg_log2_bigram_prob`` and
    ``pctl``. The upstream frame is consumed three times (bigram
    occurrences, vocabulary, join-back) — callers should ``.persist()``
    it, the module's standing fan-out rule. The quality band upstream
    guarantees >= 5 tokens, so every doc has bigram evidence and the
    inner join drops nothing."""
    from fireball_data_processing_spark.functions.textstats import (
        bigram_logprob,
    )
    from fireball_data_processing_spark.operators.selection import (
        score_percentile_gate,
    )

    scored = bigram_logprob(quality, text_col="clean_text")
    joined = quality.join(
        scored.select("doc_id", "avg_neg_log2_bigram_prob"), "doc_id"
    )
    return score_percentile_gate(
        joined, "avg_neg_log2_bigram_prob", "source"
    )


def budget_stage(gated: DataFrame, budget: int) -> DataFrame:
    """Token-budget selection ordered by LM quality: fill ``budget``
    tokens with the LEAST-perplexing documents first (score =
    1 / (1 + cross-entropy), a bounded [0,1] transform so the two-phase
    bucketed prefix sum of :func:`..operators.selection.budget_fill`
    applies unchanged; ordering by it is ordering by perplexity
    ascending). Emits ``lm_score`` and the running ``cum_tokens``."""
    from fireball_data_processing_spark.operators.selection import budget_fill

    scored = gated.withColumn(
        "lm_score",
        F.round(1.0 / (1.0 + F.col("avg_neg_log2_bigram_prob")), 6),
    )
    return budget_fill(
        scored, "lm_score", "n_tokens", "doc_id", budget=budget
    )
