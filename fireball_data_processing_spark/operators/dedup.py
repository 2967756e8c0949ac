"""Document deduplication for large-scale training-data pipelines.

Four strategies, cheapest to richest; all built on DataFrame primitives so
Catalyst handles pruning/pushdown and each stage is shuffle-bounded:

- **exact**: normalize -> md5 -> groupBy hash. One shuffle on a 32-byte key,
  no text comparison; at 100 TB group by the digest, never by the raw text.
- **MinHash + LSH**: shingle -> K min-hashes -> band buckets -> candidate
  pairs joined within buckets -> exact Jaccard verification. Pair generation
  is confined to LSH buckets, so the quadratic blowup is bounded by bucket
  size; a length/prefix guard keeps degenerate buckets in check.
- **SimHash**: per-token hashes folded into a weighted bit-majority
  fingerprint; near-dups differ in few bits. Fingerprint is an int64 —
  joinable/bandable like MinHash bands.
- **n-gram Jaccard**: exact pairwise similarity on candidate pairs (the
  verifier for the LSH path, or standalone on small slices).

Hashes are md5-hex (lexicographic min == uniform min-hash) so every engine
with md5 reproduces signatures bit-for-bit — which also makes the DuckDB
oracles exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


from fireball_data_processing_spark.functions.text import normalize_text  # noqa: E402
from fireball_data_processing_spark.session import conf_bytes, estimated_bytes  # noqa: E402

__all__ = [
    "normalize_text", "exact_dedup_groups",
    "shingles_of_words", "minhash_signature",
    "minhash_sig_expr", "band_structs",
    "lsh_candidate_pairs", "jaccard_pairs", "simhash", "ngram_overlap",
    "connected_components", "duplicate_spans", "remove_duplicate_spans",
    "aligned_segments", "line_dedup", "ngram_containment",
    "contamination_spans", "content_defined_chunks", "cdc_duplicate_chunks",
    "score_threshold_sweep", "cluster_size_histogram",
    "threshold_doc_hits", "quality_survivors", "edit_distance_pairs", "lsh_tuning_curve",
]


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact duplicate groups: one row per distinct normalized text with the
    canonical (min) id and the duplicate count."""
    h = F.md5(normalize_text(F.col("text"))).alias("content_hash")
    return (
        df.select(h, F.col("doc_id"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def shingles_of_words(words: Column, k: int) -> Column:
    """k-word shingles of an already-split words array column."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array()))


def _corpus_bytes(spark) -> int:
    """The input size from which the scan alone yields at least
    ``shuffle.partitions`` splits of ``spark.sql.files.maxPartitionBytes``."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return parts * conf_bytes(spark, "spark.sql.files.maxPartitionBytes", "128MB")


def _spread_words(pre: DataFrame, id_col: str) -> DataFrame:
    """Scale-gated parallelism spreader for pre-explode (id, words)
    frames.

    Small/local inputs arrive as one or two scan partitions (a file
    only splits above ``spark.sql.files.maxPartitionBytes``), so the
    shingle/gram explode and its per-element hashing would run
    serially; an id-keyed repartition to the shuffle-partition count
    fixes that, and downstream doc-grain stages reuse the partitioning.

    At corpus scale the SAME repartition is a pure extra full-corpus
    shuffle of the word arrays: the scan's byte-based splits already
    provide the parallelism, and doc-grain aggregates are cheaper
    unpartitioned (map-side partial combine + a tiny post-combine
    exchange of per-doc rows instead of a corpus-bytes exchange). So
    the repartition is applied only when the size estimate is known to
    be below :func:`_corpus_bytes`; an unknown estimate keeps the scan's
    own splits."""
    spark = pre.sparkSession
    est = estimated_bytes(pre)
    if est is None or est >= _corpus_bytes(spark):
        return pre
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return pre.repartition(parts, F.col(id_col))


def _pin_if_large(df: DataFrame) -> DataFrame:
    """Scale-gated persist for a frame with MULTIPLE physical consumers
    (both sides of a self-join, a broadcast build + probe) whose
    upstream pipeline is expensive at corpus scale.

    At corpus scale, re-executing the upstream per consumer doubles
    full-corpus passes, so sharing one materialization is the only
    sane plan. At local scale the trade inverts: the upstream is
    seconds of work, the consumers' subtrees execute concurrently
    (broadcast stages overlap the probe-side scan), and a persist
    serializes them behind one cache-materialization job plus the
    cache write (measured +50% on the LSH pair queries at sf0.1). So
    the pin is applied only when the size estimate is known to reach
    :func:`_corpus_bytes`, the threshold :func:`_spread_words` uses; an
    unknown estimate leaves the frame unpinned."""
    est = estimated_bytes(df)
    if est is not None and est >= _corpus_bytes(df.sparkSession):
        return df.persist()
    return df


def _exploded_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """(id, shingle) rows, one per distinct shingle.

    Plan shape for scale AND local speed:
    1. project (id, words) — the regex/split runs exactly once per doc;
    2. repartition on the id with an EXPLICIT partition count — the
       pre-explode rows are tiny, so AQE would coalesce the exchange to one
       or two partitions and then the 50x explode fan-out runs serially;
       pinning the count keeps the expansion parallel (and the downstream
       groupBy(id) reuses the partitioning, so no extra shuffle);
    3. explode shingles from the materialized words column.
    """
    w = _spread_words(
        df.select(
            F.col(id_col),
            F.split(normalize_text(F.col(text_col)), " ").alias("__words"),
        ),
        id_col,
    )
    sh = shingles_of_words(F.col("__words"), k)
    return w.select(F.col(id_col), F.explode(sh).alias("shingle"))


def minhash_signature(
    df: DataFrame,
    num_hashes: int = 8,
    shingle_k: int = 3,
    with_shingles: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: for hash function i, min over shingles of
    md5(i || '#' || shingle) (hex strings; lexicographic min).

    Plan shape: explode shingles -> groupBy doc -> K min() aggregates. One
    shuffle (pre-explode, on the doc id); the groupBy reuses it.

    ``with_shingles=True`` additionally collects the distinct shingle set
    into a ``__sh`` column in the SAME grouped pass, so a downstream
    Jaccard-verification stage shares this plan instead of building a
    second shingling pipeline. (Consumers of separate branches still
    re-execute the shared subtree — to pay the corpus scan exactly once at
    billion-doc scale, write the signatures to parquet first.)
    """
    exploded = _exploded_shingles(df, "text", "doc_id", shingle_k)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}#"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    if with_shingles:
        aggs.append(F.collect_list("shingle").alias("__sh"))
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_sig_expr(sh: Column, num_hashes: int) -> Column:
    """Per-ROW MinHash signature: ``array<string>`` whose element i is
    min over shingles of ``md5(f"{i}#" || shingle)`` — value-identical to
    :func:`minhash_signature`'s columns, but computed inside the row with
    no explode and no shuffle. This is the streaming formulation: the
    batch explode→groupBy would be a *stateful* streaming aggregation,
    while this is a plain projection (see ``streaming/dedup_stream.py``).

    Shape matters: the shingle array is the ``aggregate``'s input — outside
    any lambda — so it is evaluated ONCE per row; a transform-per-hash
    formulation would rebuild the shingles ``num_hashes`` times (HOF lambda
    bodies get no subexpression elimination). Docs with no shingles yield
    all-null elements (the batch groupBy form simply omits such docs).
    """
    seeds = F.expr(
        "array({})".format(",".join(f"'{i}#'" for i in range(num_hashes)))
    )
    init = F.expr(f"array_repeat(CAST(NULL AS STRING), {num_hashes})")
    return F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda p: F.md5(F.concat(p, s))),
            # least() skips nulls, so the null init loses to the first hash
            lambda a, b: F.least(a, b),
        ),
    )


def band_structs(num_hashes: int, band_size: int) -> Column:
    """``array<struct<band_idx,band_key>>`` banding expression over the
    ``mh{i}`` columns of :func:`minhash_signature` — the ONE definition of
    how signatures map to LSH buckets, shared by the batch self-join and
    the streaming gate's index."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{i}")
                        for i in range(b * band_size, (b + 1) * band_size)
                    ],
                ).alias("band_key"),
            )
            for b in range(num_hashes // band_size)
        ]
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Banded LSH: docs sharing any band of ``band_size`` consecutive
    min-hashes become a candidate pair (id_a < id_b), deduplicated across
    bands. Pairs are confined to (band_idx, band_key) buckets — never
    corpus².

    One equi-self-join on the band key. The optimizer picks broadcast
    (small signature table) or sort-merge (big one); the join keys ARE the
    bucket, so output stays bucket-bounded. The (id, band_idx, band_key)
    table feeds BOTH join sides; at corpus scale it is pinned
    (:func:`_pin_if_large`) so the upstream signature pipeline (scan ->
    shingle explode -> minhash aggregate) executes once instead of once
    per side — the pinned frame is doc×n_bands grain, orders of magnitude
    narrower than the corpus. At local/bench scale the gate declines the
    pin (the duplicated subtrees execute concurrently and cost less than
    serializing behind a cache materialization — measured +50% at sf0.1),
    keeping the small-scale plan unchanged. Over signatures written to
    parquet an unpinned side re-reads compact parquet, not the shingling
    pipeline.

    In-bucket work is quadratic in bucket size — bounded by the LSH design
    (a hot band key is a near-duplicate cluster, exactly what the bands
    exist to confine).
    """
    bands = band_structs(num_hashes, band_size)
    banded = sigs.select(F.col("doc_id"), F.explode(bands).alias("band")).select(
        F.col("doc_id"), F.col("band.band_idx"), F.col("band.band_key")
    )
    # Both sides of the self-join read the banded table; at corpus
    # scale pin it so the upstream signature pipeline executes once
    # (gate rationale in _pin_if_large).
    banded = _pin_if_large(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    shingle_k: int = 3,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A ∩ B| / |A ∪ B| over
    distinct word shingles. Verification stage of the LSH pipeline.

    Shingle sets are built through the exploded+grouped path: the exchange
    is a materialization barrier, so Catalyst cannot collapse the projection
    and re-inline the shingle regex into the per-pair join (which would
    recompute every doc's shingles once per candidate pair). Pass
    ``shingle_sets`` — an (id, sh) frame, e.g. the ``__sh`` column of
    ``minhash_signature(with_shingles=True)`` — to share the signature
    stage's scan instead of re-shingling.
    """
    if shingle_sets is not None:
        sh = shingle_sets
    else:
        sh = (
            _exploded_shingles(df, "text", "doc_id", shingle_k)
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("sh"))
        )
    j = (
        pairs.join(
            sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        ).join(
            sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return j.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over normalized words.

    Bit i of the fingerprint is the majority vote of bit i across the md5
    hashes of the document's distinct words. ``bits`` defaults to 16; up to
    48 supported (the word hash takes ceil(bits/4) md5 nibbles — beyond 48
    the hex->int64 conversion would overflow signed bigint).

    Plan: explode words -> groupBy(doc) with one conditional sum per bit ->
    fingerprint.
    """
    if not 1 <= bits <= 48:
        raise ValueError(f"bits must be in [1, 48], got {bits}")
    nibbles = (bits + 3) // 4
    words = F.array_distinct(F.split(normalize_text(F.col("text")), " "))
    ex = df.select(F.col("doc_id"), F.explode(words).alias("w")).select(
        F.col("doc_id"),
        # first `nibbles` hex digits of md5(w) as an integer wide enough
        # for all `bits` positions
        F.conv(F.substring(F.md5(F.col("w")), 1, nibbles), 16, 10)
        .cast("bigint")
        .alias("h16"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h16"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy("doc_id").agg(*votes)
    fp = sum(
        (F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)))
        for i in range(bits)
    )
    return agg.select(F.col("doc_id"), fp.cast("bigint").alias("simhash"))


def ngram_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: (doc, benchmark-doc) pairs sharing at
    least ``min_overlap`` distinct k-word shingles, with the shared count.

    The standard pretraining-hygiene operator — training documents that
    textually overlap an evaluation set must be found (and usually
    dropped) before training; k=8..13 word n-grams is the published
    practice for benchmark contamination checks.

    Plan: explode both sides' DISTINCT shingles, equi-join on the shingle
    string, count per pair. Contact is confined to literally-shared
    n-grams — never |docs| x |benchmark| — and the benchmark side is small
    by nature, so its exploded table broadcasts; the docs side streams
    through one shuffle-free map + join. Output: ``(doc_id,
    bench_id, n_shared)``.
    """
    d = _exploded_shingles(docs, "text", "doc_id", k)
    b = (
        _exploded_shingles(benchmark, "text", "doc_id", k)
        .withColumnRenamed("doc_id", "bench_id")
    )
    return (
        d.join(b, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


# Round from which connected_components adds pointer jumping. The
# four CC queries converge and confirm in 3 plain rounds at sf0.1; a
# jump in every round measured 15-35% slower there and saved none of
# them, while a chain graph needs the jumps to close in O(log diameter)
# rounds.
_JUMP_FROM_ROUND = 4
_MAX_ROUNDS = 25


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over a pair list -> ``(vertex, component)``
    with the component labeled by its minimum vertex id. The survivor-
    selection step of a dedup pipeline: candidate/verified pairs chain
    (A~B, B~C), so keeping one doc per PAIR under-deletes — clusters must
    be closed transitively first, then one canonical doc kept per cluster.

    Iterative min-label propagation: each round every vertex takes the min
    of its own label and its neighbors' labels (own label folded in via
    self-loop edges, so a round is ONE join + ONE aggregate); converged
    when a round changes nothing — detected by the label SUM going flat
    (labels only decrease, so an unchanged sum means an unchanged
    labeling). Plain rounds needed = cluster diameter — small for near-dup
    clusters (pairs share LSH buckets, so clusters are dense). This is a
    genuinely iterative algorithm (Spark has no recursive SQL):
    per-round ``localCheckpoint`` truncates the lineage, which would
    otherwise grow exponentially, and the convergence probe is one tiny
    aggregate action per round — driver-side control flow, executor-side
    data. ``_MAX_ROUNDS`` bounds the rounds; raises if unconverged.

    Action economics: the checkpoints after the edge frame
    are LAZY (``eager=False``), so each round runs exactly ONE Spark
    action — the convergence probe — which materializes that round's
    checkpoint as a side effect; the self-loop union and initial labels
    materialize inside the first round's probe the same way (the edge
    frame itself stays eager — see the inline comment).
    There is no probe of the INITIAL labeling: on any edge set with a
    non-self-loop pair, the pair's larger endpoint must take the smaller
    label in round 1, so round 1 never equals round 0 and the first
    comparison that can say "converged" is round 2 vs round 1 (an empty
    edge set yields a NULL sum immediately and returns after one trivial
    round). Pre-partitioning the static edge frame on the join key was
    probed and rejected: PySpark's ``localCheckpoint`` surfaces as
    ``Scan ExistingRDD`` with ``UnknownPartitioning``, so the planner
    cannot reuse a checkpointed layout and the repartition would be a
    pure extra exchange.

    **Pointer jumping for chain-shaped graphs**: from round
    ``_JUMP_FROM_ROUND`` on, each propagation round also replaces every
    label by the previous round's label OF that label (``component :=
    labels[component]``, one label⋈label join), so label chains halve
    each round and convergence drops from O(diameter) to O(log
    diameter) rounds: a 64-vertex path closes in 8 rounds instead of 64,
    a million-vertex path in 22 instead of a million. Dense LSH near-dup
    graphs converge in the plain rounds before the jump starts, so they
    pay no extra join. The shuffle-optimal published alternative at
    adversarial extreme scale is alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC '14) — the same O(log) round bound via edge relinking; pointer
    jumping is used here because it reuses the label frame this loop
    already maintains. Output is the (vertex, min-id component)
    labeling either way.
    """
    # ONE traversal of the pairs subtree: both edge directions come out of
    # a single explode instead of a two-branch union that re-executed the
    # (possibly expensive — LSH candidate generation) pair pipeline twice
    # per action.
    e = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
        .distinct()
        # EAGER on purpose, alone among the checkpoints here: `e` holds
        # the (possibly expensive — LSH candidate generation) pair
        # pipeline and is read by TWO independent subtrees (`e_all`,
        # `labels`). Lazy, round 1's single job would schedule both
        # subtrees' map stages concurrently against the not-yet-
        # materialized cache and compute the pair pipeline twice.
        .localCheckpoint()
    )
    verts = e.select(F.col("src").alias("vertex")).distinct()
    # Self-loop edges fold each vertex's OWN label into the neighbor-min
    # aggregate, collapsing the old two-join round (neighbor-min join +
    # least()-merge join) into ONE join + ONE aggregate per round
    # Every vertex appears as src in `e` (both directions
    # are present), so groupBy(src) still emits every vertex.
    e_all = e.unionByName(
        verts.select(
            F.col("vertex").alias("src"), F.col("vertex").alias("dst")
        )
    ).localCheckpoint(eager=False)
    labels = (
        verts.withColumn("component", F.col("vertex"))
        .localCheckpoint(eager=False)
    )
    # Convergence probe: labels only ever DECREASE (min-fold over a set
    # containing the current label), so the label sum strictly decreases
    # until the fixpoint — one tiny aggregate replaces the old per-round
    # __changed bookkeeping columns. decimal(38,0) keeps a 1e9-vertex
    # sum of 64-bit ids exactly representable (no overflow, no FP fuzz).
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    # No probe of the initial labeling (see docstring): prev_sum = None
    # can never equal a non-empty round's decimal sum, and an EMPTY edge
    # set sums to NULL (None) in round 1 and returns immediately.
    prev_sum = None
    for rnd in range(1, _MAX_ROUNDS + 1):
        updated = (
            e_all.join(labels, e_all["dst"] == labels["vertex"])
            .groupBy("src")
            .agg(F.min("component").alias("component"))
            .select(F.col("src").alias("vertex"), "component")
        )
        if rnd >= _JUMP_FROM_ROUND:
            # pointer jump: component := the previous round's label of
            # the component vertex. A label value is always a vertex id
            # present in `labels` (labels start as vertex ids and only
            # min-fold over them), so the left join always matches;
            # coalesce is belt-and-braces. The jump reads `labels`,
            # which the previous round's probe already materialized, not
            # this round's frame: a lazy checkpoint of it read by both
            # join sides would have two consumers in one job (the hazard
            # that makes `e` eager).
            l2 = labels.select(
                F.col("vertex").alias("__v2"),
                F.col("component").alias("__c2"),
            )
            updated = updated.join(
                l2, updated["component"] == l2["__v2"], "left"
            ).select(
                "vertex", F.coalesce("__c2", "component").alias("component")
            )
        updated = updated.localCheckpoint(eager=False)
        new_sum = _label_sum(updated)
        labels = updated
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge in {_MAX_ROUNDS} rounds"
    )


def _gram_hits(docs: DataFrame, k: int) -> DataFrame:
    """``(doc_id, pos, gram)``: the md5 of every ``k``-word gram of each
    document's normalized text, at its word offset."""
    pre = _spread_words(
        docs.select(
            F.col("doc_id"),
            F.split(normalize_text(F.col("text")), " ").alias("__words"),
        ),
        "doc_id",
    )
    words = F.col("__words")
    grams = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return pre.select(F.col("doc_id"), F.posexplode(grams).alias("pos", "gram"))


def _hit_spans(hits: DataFrame, k: int) -> DataFrame:
    """Merge ``(doc_id, pos)`` gram hits into maximal word spans
    ``(doc_id, span_start, span_end, span_words)`` by per-doc
    gaps-and-islands; overlapping and contiguous hits join one span."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.coalesce(F.max(F.col("pos") + k).over(w_prev), F.lit(-1))
    brk = F.when(F.col("pos") > prev_end, 1).otherwise(0)
    islands = hits.withColumn("__island", F.sum(brk).over(w_run))
    return (
        islands.groupBy("doc_id", "__island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k).cast("bigint").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_words"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document exact-substring spans (the ExactSubstr dedup mode of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): word positions covered by any ``k``-gram that also appears
    in at least ``min_docs - 1`` OTHER documents, merged into maximal
    spans. Downstream pipelines cut the spans out (suffix-array semantics
    at n-gram resolution) instead of dropping whole near-dup documents.

    Output: ``(doc_id, span_start, span_end, span_words)`` — word offsets
    over the normalized text, ``end`` exclusive; overlapping AND
    contiguous gram hits merge into one span.

    Plan: one scan -> per-row gram hashes (array math, the raw text never
    leaves the row) -> explode -> the duplicate-gram set via groupBy on
    the 32-char md5 (never gram text) -> join back co-partitioned on the
    gram key -> per-doc gaps-and-islands (running max-end window, one
    shuffle on the doc key) -> island aggregation reuses that exchange.
    Candidate volume is bounded by truly-duplicated grams, not corpus
    size; the quadratic blowup of pairwise comparison never appears.
    """
    # materialize the split words BEHIND a pre-explode exchange (house
    # pattern, see _exploded_shingles: HOF lambdas get no subexpression
    # elimination, so the gram lambda must reference a materialized
    # column, not the split expression — otherwise normalize+split
    # re-executes per gram index, O(words^2) per document), then decide
    # duplicate-ness with a WINDOW over the gram key instead of
    # groupBy+join-back — one consumer of the exploded rows, so nothing
    # re-executes. countDistinct isn't a window function; max(dense_rank
    # ordered by doc) over the gram partition counts distinct docs
    # exactly, with no per-group set buffer.
    hits = _gram_hits(docs, k)
    w_gram_rank = Window.partitionBy("gram").orderBy("doc_id")
    w_gram = Window.partitionBy("gram")
    nd = F.max(F.dense_rank().over(w_gram_rank)).over(w_gram)
    dup_hits = (
        hits.withColumn("__nd", nd)
        .filter(F.col("__nd") >= min_docs)
        .select("doc_id", "pos")
    )
    return _hit_spans(dup_hits, k)


def remove_duplicate_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut :func:`duplicate_spans` hits out of the text — the second half
    of the ExactSubstr recipe (Lee et al.: remove the duplicated
    substring, KEEP the document; dropping whole near-dup docs loses the
    unique remainder).

    Output: ``(doc_id, clean_text, n_words, n_removed_words)`` where
    ``clean_text`` is the normalized text with every span's words
    removed and ``n_words`` counts the pre-removal words. Word offsets
    follow the same normalization ``duplicate_spans`` used, so spans
    index cleanly.

    Plan: spans collapse to one per-doc struct list (bounded by spans
    per doc, not corpus size), LEFT-join back on the doc key — most
    docs carry no spans and pass through untouched — and the cut is a
    single indexed ``filter`` HOF over the materialized word array
    (per-row array math, zero extra shuffles beyond the span rollup's
    doc-key exchange, which co-partitions the join).
    """
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    # materialize the split BEFORE the HOF consumes it (house rule: HOF
    # lambdas get no subexpression elimination)
    pre = docs.select(
        F.col("doc_id"),
        F.split(normalize_text(F.col("text")), " ").alias("__words"),
    ).join(per_doc, on="doc_id", how="left")
    words = F.col("__words")
    covered = lambda _w, i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.when(F.col("__spans").isNull(), words).otherwise(
        F.filter(words, lambda w, i: ~covered(w, i))
    )
    sized = pre.select(
        F.col("doc_id"),
        words.alias("__words"),
        kept.alias("__kept"),
    )
    return sized.select(
        F.col("doc_id"),
        F.concat_ws(" ", F.col("__kept")).alias("clean_text"),
        F.size("__words").cast("bigint").alias("n_words"),
        (F.size("__words") - F.size("__kept"))
        .cast("bigint")
        .alias("n_removed_words"),
    )


def aligned_segments(
    docs: DataFrame,
    seg_words: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic segmentation for cross-document line dedup: the
    normalized text cut into NON-overlapping ``seg_words``-word windows
    (the trailing remainder is its own, shorter, segment). Corpora with
    real line structure should segment with
    :func:`fireball_data_processing_spark.functions.clean.split_segments`
    instead; this word-aligned form is the fallback for single-line text.

    Output: ``(doc_id, seg_idx, segment)``. Per-row array math + one
    explode; the words array is materialized behind an id-keyed exchange
    (house rule: HOF lambdas get no subexpression elimination, so the
    slice lambda must reference a materialized column — and the explode
    consumer's doc-key stages reuse this partitioning).
    """
    pre = _spread_words(
        docs.select(
            F.col("doc_id"),
            F.filter(
                F.split(normalize_text(F.col(text_col)), " "),
                lambda s: s != "",
            ).alias("__words"),
        ),
        "doc_id",
    )
    words = F.col("__words")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - 1, F.lit(0)), F.lit(seg_words)),
        lambda st: F.concat_ws(" ", F.slice(words, st + 1, seg_words)),
    )
    return pre.select(
        F.col("doc_id"),
        F.posexplode(segs).alias("seg_idx", "segment"),
    ).withColumn("seg_idx", F.col("seg_idx").cast("bigint"))


def line_dedup(
    docs: DataFrame,
    seg_words: int = 8,
    min_docs: int = 2,
    keep_first: bool = True,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line/segment deduplication — the C4 / RefinedWeb
    pipeline stage (Raffel et al. 2020 removed any three-sentence span
    occurring more than once in C4; RefinedWeb drops repeated lines):
    a segment occurring in at least ``min_docs`` DISTINCT documents is
    removed from every document — except, when ``keep_first``, from the
    lowest-``doc_id`` document holding it (C4 keeps one occurrence;
    ``keep_first=False`` is the RefinedWeb remove-everywhere form).

    Output: ``(doc_id, n_segments, n_removed_segments, kept_text)`` —
    ``kept_text`` re-joins the surviving segments in document order, so
    unique content inside mostly-boilerplate documents survives (the
    whole point vs doc-level dedup).

    Plan: one scan -> aligned segments (no shuffle) -> duplicate-ness
    decided by WINDOWS over the segment hash (house pattern: max of
    dense_rank counts distinct docs with no per-group set buffer; min
    over the partition elects the keeper) -> per-doc rollup. Two
    shuffles total (segment-hash key, then doc key); candidate volume
    is corpus segments, never pairs. The segment-hash exchange
    partitions on md5, uniform by construction ACROSS segments; a
    single ultra-hot boilerplate segment still lands on one reducer,
    whose window buffer spills to disk instead of failing.
    """
    segs = aligned_segments(docs, seg_words, text_col).withColumn(
        "__h", F.md5(F.col("segment"))
    )
    w_rank = Window.partitionBy("__h").orderBy("doc_id")
    w_seg = Window.partitionBy("__h")
    n_docs = F.max(F.dense_rank().over(w_rank)).over(w_seg)
    keeper = F.min("doc_id").over(w_seg)
    marked = segs.withColumn("__nd", n_docs).withColumn("__keeper", keeper)
    removed = F.col("__nd") >= min_docs
    if keep_first:
        removed = removed & (F.col("doc_id") != F.col("__keeper"))
    marked = marked.withColumn("__removed", removed)
    kept_structs = F.sort_array(
        F.collect_list(
            F.when(
                ~F.col("__removed"), F.struct("seg_idx", "segment")
            )
        )
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.col("__removed").cast("bigint")).alias("n_removed_segments"),
        F.concat_ws(
            " ", F.transform(kept_structs, lambda s: s["segment"])
        ).alias("kept_text"),
    )


def ngram_containment(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    min_containment: float = 0.0,
) -> DataFrame:
    """Asymmetric contamination score — the normalized form of
    :func:`ngram_overlap` used by published decontamination protocols
    (GPT-3 appendix C / PaLM style): for each (training doc, benchmark
    item) pair, the FRACTION of the benchmark item's distinct k-grams
    present in the doc. Containment, not Jaccard — a long training doc
    that swallows a short benchmark item whole scores 1.0 even though
    its Jaccard is tiny, which is exactly the leak being hunted.

    Output: ``(doc_id, bench_id, n_bench_grams, n_shared,
    containment)`` with containment rounded 6dp (the filter runs on the
    unrounded single division, cross-engine exact).

    Plan: the shared-gram counting of ``ngram_overlap`` plus a per-item
    gram-count aggregate on the benchmark side, joined back broadcast
    (the benchmark is small by nature). Contact stays confined to
    literally-shared n-grams.
    """
    shared = ngram_overlap(docs, benchmark, k=k)
    bench_sizes = (
        _exploded_shingles(benchmark, "text", "doc_id", k)
        .groupBy(F.col("doc_id").alias("bench_id"))
        .agg(F.count(F.lit(1)).alias("n_bench_grams"))
    )
    cont = F.col("n_shared") / F.col("n_bench_grams")
    return (
        shared.join(F.broadcast(bench_sizes), "bench_id")
        .filter(cont >= min_containment)
        .select(
            "doc_id",
            "bench_id",
            F.col("n_bench_grams").cast("bigint").alias("n_bench_grams"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(F.col("n_shared") / F.col("n_bench_grams"), 6).alias(
                "containment"
            ),
        )
    )


def contamination_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
) -> DataFrame:
    """Span-level decontamination — the surgical complement of
    :func:`ngram_overlap`/:func:`ngram_containment`: the maximal word
    spans of each training document covered by any ``k``-gram that also
    appears ANYWHERE in the benchmark set. Downstream pipelines cut the
    spans out with :func:`remove_duplicate_spans` (same offsets contract)
    and keep the document — dropping whole docs for one leaked paragraph
    wastes the unique remainder.

    Output: ``(doc_id, span_start, span_end, span_words)`` — word
    offsets over the normalized text, end exclusive, contiguous/
    overlapping gram hits merged (identical shape to
    :func:`duplicate_spans`, so the removal step is shared).

    Plan: per-row gram hashes on the docs side -> LEFT SEMI join against
    the benchmark's DISTINCT gram hashes (benchmark-sized, broadcastable
    — no distinct-doc counting windows needed, membership is the whole
    question) -> per-doc gaps-and-islands. Contact is bounded by grams
    literally shared with the benchmark.
    """
    hits = _gram_hits(docs, k)
    bench_grams = (
        _exploded_shingles(benchmark, "text", "doc_id", k)
        .select(F.md5(F.col("shingle")).alias("gram"))
        .distinct()
    )
    dirty = hits.join(F.broadcast(bench_grams), "gram", "left_semi").select(
        "doc_id", "pos"
    )
    return _hit_spans(dirty, k)


def content_defined_chunks(
    docs: DataFrame,
    boundary_mod: int = 16,
) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary idea behind
    LBFS/rsync and FastCDC, applied at word granularity): cut each
    document AFTER every word whose md5 satisfies
    ``hash(word) % boundary_mod == 0``. Because boundaries depend only on
    LOCAL content, an insertion or deletion re-chunks ONLY the chunk it
    touches — every other chunk's text (and hash) is unchanged — whereas
    any fixed-width segmentation (:func:`aligned_segments`) shifts every
    segment after the edit and loses all dedup contact. This is the
    chunking to use when near-identical documents differ by small edits
    (licence headers, templated pages, version-bumped docs); expected
    chunk length is geometric with mean ``boundary_mod`` words.

    Output: ``(doc_id, chunk_idx, chunk_text, chunk_md5, n_words)``, one
    row per chunk, ``chunk_idx`` counting from 0 in document order.

    Plan shape: explode words with position -> boundary flag as a pure
    md5 expression -> chunk index = running sum of PRIOR boundary flags
    (one window over the doc key) -> per-chunk rollup rebuilding word
    order via ``sort_array(collect_list(struct(pos, word)))`` (no second
    ordering shuffle; the groupBy reuses the doc-key partitioning). The
    boundary rule is portable md5 arithmetic, so any engine reproduces
    identical chunks — the min/max chunk-bound refinement of FastCDC
    requires a sequential FSM and is deliberately left out to keep the
    operator window-expressible (document the trade: a pathological
    corpus whose every word is a boundary yields 1-word chunks; raise
    ``boundary_mod`` or pre-filter such rows).
    """
    pre = _spread_words(
        docs.select(
            F.col("doc_id"),
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda s: s != "",
            ).alias("__words"),
        ),
        "doc_id",
    )
    occ = pre.select(
        F.col("doc_id"), F.posexplode("__words").alias("pos", "word")
    ).withColumn(
        "__brk",
        (
            F.pmod(
                F.conv(F.substring(F.md5(F.col("word")), 1, 8), 16, 10).cast(
                    "bigint"
                ),
                F.lit(boundary_mod),
            )
            == 0
        ).cast("int"),
    )
    w_prior = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = occ.withColumn(
        "chunk_idx", F.coalesce(F.sum("__brk").over(w_prior), F.lit(0)).cast("int")
    )
    return (
        chunked.groupBy("doc_id", "chunk_idx")
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "word"))).alias("__ws")
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(
                " ", F.transform(F.col("__ws"), lambda s: s["word"])
            ).alias("chunk_text"),
            F.size("__ws").cast("bigint").alias("n_words"),
        )
        .withColumn("chunk_md5", F.md5(F.col("chunk_text")))
        .select("doc_id", "chunk_idx", "chunk_text", "chunk_md5", "n_words")
    )


def cdc_duplicate_chunks(
    docs: DataFrame,
    boundary_mod: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate CDC chunks: which content-defined chunks
    appear in >= ``min_docs`` distinct documents, and how often — the
    storage-dedup measurement (shared boilerplate mass robust to small
    edits) that fixed-alignment line dedup undercounts on edited copies.

    Output: ``(chunk_md5, n_docs, n_occurrences, n_words)``.
    Contact is confined to chunk-hash groups (one groupBy over the chunk
    frame); raw chunk text never enters the shuffle (md5 + the word
    count are carried; re-join :func:`content_defined_chunks` on
    chunk_md5 to recover text)."""
    chunks = content_defined_chunks(docs, boundary_mod)
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.first("n_words").alias("n_words"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def threshold_grid(spark) -> DataFrame:
    """The sweep's cutoffs: one ``threshold_pct`` row for each of
    10, 20, ..., 90."""
    return spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in range(10, 100, 10)])
        ).alias("threshold_pct")
    )


def _threshold_docs(pairs: DataFrame, grid: DataFrame, doc_col: str) -> DataFrame:
    """``(threshold_pct, doc_col)``: both doc ids of every pair whose
    6-dp rounded ``jaccard`` reaches each cutoff of ``grid``."""
    return (
        pairs.crossJoin(F.broadcast(grid))
        .filter(
            F.round(F.col("jaccard"), 6)
            >= F.col("threshold_pct").cast("double") / F.lit(100.0)
        )
        .select(
            "threshold_pct",
            F.explode(F.array("id_a", "id_b")).alias(doc_col),
        )
    )


def score_threshold_sweep(pairs: DataFrame) -> DataFrame:
    """Dedup-threshold sweep: for each candidate cutoff, how many verified
    pairs and how many distinct documents the dedup pass would touch —
    the datasheet a pipeline owner reads BEFORE committing to a Jaccard
    (or cosine) threshold, instead of inheriting 0.8 from folklore. The
    published dedup pipelines all pick a similarity cutoff empirically
    (Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    Better" §4; Penedo et al. 2023 RefinedWeb §G); this emits the whole
    removal-rate-vs-threshold curve in one pass over the verified pairs.

    Input: any scored pair frame — n-gram Jaccard from
    :func:`jaccard_pairs`, embedding cosine pairs, SimHash similarity.
    Output: one row per threshold, ``(threshold_pct, n_pairs, n_docs)``
    with ``n_pairs = |{pairs: round(score, 6) >= pct/100}|`` and
    ``n_docs`` the distinct documents appearing in those pairs (an upper
    bound on removals: survivors are picked per connected cluster, one
    kept each, so removals fall between ``n_docs/2`` and ``n_docs - 1``
    per component). Thresholds with no qualifying pair emit a zero row —
    the curve always has one point per 10% step from 10 to 90.

    Plan shape: the 9-row threshold grid is the BROADCAST side of a
    nested-loop join against the pair frame (already candidate-bounded
    by LSH/banding — never the corpus); each qualifying pair explodes
    into its two doc ids so ONE grouped aggregate yields both curves
    (``n_pairs = count/2`` — exact, every pair contributes exactly two
    rows — and ``n_docs = count distinct``), consuming the scored
    subtree once instead of once per output column; a broadcast merge
    back onto the grid restores the zero rows. Scores are rounded
    before the comparison so the cut line is engine-reproducible (the
    same 6-dp boundary rule as the percentile gate)."""
    grid = threshold_grid(pairs.sparkSession)
    exploded = _threshold_docs(pairs, grid, "__doc")
    counts = exploded.groupBy("threshold_pct").agg(
        (F.count(F.lit(1)) / F.lit(2)).cast("bigint").alias("n_pairs"),
        F.countDistinct("__doc").cast("bigint").alias("n_docs"),
    )
    return grid.join(F.broadcast(counts), "threshold_pct", "left").select(
        "threshold_pct",
        F.coalesce("n_pairs", F.lit(0).cast("bigint")).alias("n_pairs"),
        F.coalesce("n_docs", F.lit(0).cast("bigint")).alias("n_docs"),
    )


def cluster_size_histogram(
    components: DataFrame,
    n_total_docs: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-cluster size distribution — the other half of the dedup
    datasheet: how much of the corpus sits in clusters of each size, i.e.
    the duplicate MASS (``n_docs - n_clusters`` removals at size s) and
    its shape (two mirror copies everywhere vs a few megaclusters of
    boilerplate). Published corpus reports tabulate exactly this curve
    (Lee et al. 2021 fig. 1's cluster-size histogram).

    Input: the ``(vertex, component)`` frame from
    :func:`connected_components` (every vertex there belongs to a >= 2
    cluster, since each came from a pair). If ``n_total_docs`` — a 1-row
    ``(n_tot bigint)`` aggregate of the corpus — is supplied, a
    ``cluster_size = 1`` row is prepended for the documents in NO pair,
    so the histogram's ``sum(n_docs)`` equals the corpus size exactly.

    Output: ``(cluster_size, n_clusters, n_docs)`` with
    ``n_docs = cluster_size * n_clusters``, ordered by size.

    Plan shape: two grouped aggregates (component -> size, size ->
    count), both over component-label frames that are pair-bounded, never
    corpus-bounded; the singleton row is a 1-row broadcast-merged
    aggregate (bounded driver-side scalar, no collect)."""
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    out = hist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
    )
    if n_total_docs is not None:
        covered = components.agg(
            F.count(F.lit(1)).cast("bigint").alias("__n_cov")
        )
        singleton = (
            n_total_docs.crossJoin(covered)
            .select(
                F.lit(1).cast("bigint").alias("cluster_size"),
                (F.col("n_tot") - F.col("__n_cov")).alias("n_clusters"),
                (F.col("n_tot") - F.col("__n_cov")).alias("n_docs"),
            )
        )
        out = out.unionByName(singleton)
    return out


def threshold_doc_hits(pairs: DataFrame) -> DataFrame:
    """The sweep's per-document form: ``(threshold_pct, doc_id)`` — each
    document touched by at least one qualifying pair at each cutoff,
    deduplicated. The join-ready complement to
    :func:`score_threshold_sweep`'s aggregate curve: joining a weight
    column (token counts, byte sizes) against this frame turns the
    removal curve into the unit budget planners actually reason in —
    token mass at risk per threshold, not document count (a handful of
    giant boilerplate docs can carry more tokens than thousands of
    small mirrors). Same cut-line semantics (rounded score vs pct/100);
    the distinct is per (threshold, doc) and the frame stays
    pair-bounded x |grid|."""
    grid = threshold_grid(pairs.sparkSession)
    return _threshold_docs(pairs, grid, "doc_id").distinct()


def quality_survivors(components: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware survivor selection: ONE survivor per duplicate
    cluster, chosen by ``(score desc, id asc)`` instead of the min-id
    default — the form production dedup actually ships (keep the
    longest / highest-quality copy; near-dups differ, and which copy
    survives decides what the model trains on). Min-id selection is the
    degenerate case ``score = const``.

    Input: the ``(vertex, component)`` frame from
    :func:`connected_components` plus a ``(doc_id, score)`` frame
    (word counts, Gopher quality, LM logprob — any orderable signal).
    Output: one row per cluster,
    ``(cluster_id, survivor_id, survivor_score, cluster_size)``.

    Scores need not cover every vertex: the join is a LEFT join from
    the cluster membership, an unscored vertex gets a NULL score
    ordered LAST (``desc_nulls_last``), and ``cluster_size`` counts
    ALL members — so a partially-scored cluster still elects its best
    scored copy (or, fully unscored, the lowest id) instead of
    silently vanishing from the output.

    Plan shape: the corpus-sized score frame STREAMS against a
    broadcast semi-join on the (pair-bounded) member set — a left outer
    join preserving the small side can't keep the big side streaming
    (BroadcastHashJoin only builds the non-preserved side), so the
    outer join itself runs AFTER the semi restriction, between two
    pair-bounded frames, with the restricted scores broadcast. The
    per-cluster argmax is a ``row_number() <= 1`` window — the
    WindowGroupLimit shape that computes a partial per-partition limit
    before the exchange, so only one candidate row per cluster per
    input partition shuffles."""
    member_scores = scores.select(
        F.col("doc_id").alias("vertex"), F.col("score").alias("__s")
    ).join(
        F.broadcast(components.select("vertex")), "vertex", "semi"
    )
    joined = components.join(F.broadcast(member_scores), "vertex", "left")
    w = Window.partitionBy("component").orderBy(
        F.col("__s").desc_nulls_last(), F.col("vertex").asc()
    )
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    top = (
        joined.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("vertex").alias("survivor_id"),
            F.col("__s").alias("survivor_score"),
        )
    )
    return top.join(
        F.broadcast(sizes.withColumnRenamed("component", "cluster_id")),
        "cluster_id",
    )


def edit_distance_pairs(
    df: DataFrame,
    pairs: DataFrame,
    max_chars: int | None = 2000,
) -> DataFrame:
    """Character-level edit-distance verification for candidate pairs —
    the fuzzy-dedup family's finest granularity (exact hash, MinHash/
    Jaccard shingles, SimHash bits, embedding cosine, CDC chunks, line
    and substring dedup all see TOKENS or coarser; typo-level mirror
    detection needs characters): per candidate pair, Levenshtein
    distance over dedup-normalized text and the length-normalized ratio
    ``dist / max(len_a, len_b)`` (0 identical, 1 disjoint) — threshold
    at ~0.2 for near-dup verification.

    Levenshtein is O(len_a x len_b) PER PAIR, which is exactly why this
    is a VERIFICATION stage, never a generation stage: candidates come
    from LSH bands / SimHash buckets / CDC chunk hits (pair-bounded),
    and ``max_chars`` truncates both sides (documents beyond a few KB
    that still band together are near-dups whose head decides; the cap
    bounds the per-pair cost to max_chars²). ``F.levenshtein`` is JVM
    codegen — no Python anywhere — and DuckDB's ``levenshtein`` replays
    it exactly, so the verification is oracle-checkable.

    Output: ``(id_a, id_b, edit_dist, edit_ratio)`` (empty-vs-empty pairs
    get ratio 0.0)."""
    norm = normalize_text(F.col("text"))
    if max_chars is not None:
        norm = F.substring(norm, 1, max_chars)
    t = df.select(F.col("doc_id"), norm.alias("__t"))
    j = (
        pairs.join(
            t.select(
                F.col("doc_id").alias("id_a"), F.col("__t").alias("__ta")
            ),
            "id_a",
        ).join(
            t.select(
                F.col("doc_id").alias("id_b"), F.col("__t").alias("__tb")
            ),
            "id_b",
        )
    )
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"))
    out = j.select(
        "id_a", "id_b", dist.cast("bigint").alias("edit_dist"),
        F.length("__ta").alias("__la"), F.length("__tb").alias("__lb"),
    )
    longest = F.greatest(F.col("__la"), F.col("__lb"))
    ratio = F.when(
        longest > 0,
        F.round(F.col("edit_dist").cast("double") / longest, 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id_a", "id_b", "edit_dist", ratio.alias("edit_ratio")
    )


def lsh_tuning_curve(
    spark,
    num_hashes: int = 8,
    band_size: int = 2,
    step_pct: int = 5,
) -> DataFrame:
    """The LSH banding S-curve — the planner's datasheet for
    :func:`lsh_candidate_pairs`: with ``b = num_hashes // band_size``
    bands of ``r = band_size`` rows, a pair at Jaccard similarity ``s``
    becomes a candidate with probability

        P(s) = 1 - (1 - s^r)^b

    (Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* §3.4 —
    the standard tuning tool, e.g. datasketch's optimal-param search).
    The curve's inflection ``(1/b)^(1/r)`` is the effective similarity
    threshold; reading the emitted grid is how a pipeline picks
    (num_hashes, band_size) for a target threshold BEFORE paying for a
    corpus-scale run, and the false-positive/false-negative masses are
    the areas under/over the curve either side of the cut.

    Output: one row per ``step_pct`` grid point — ``(similarity,
    p_candidate, n_bands, band_size)``, probabilities rounded (pow's
    engine ulp differences absorbed, the weighted-sampling idiom).
    Driver-grid-sized (a planning table, never corpus work)."""
    if num_hashes % band_size != 0:
        raise ValueError("num_hashes must be divisible by band_size")
    b = num_hashes // band_size
    grid = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.lit(p / 100.0)
                    for p in range(step_pct, 100, step_pct)
                ]
            )
        ).alias("similarity")
    )
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("similarity"), F.lit(float(band_size))),
        F.lit(float(b)),
    )
    return grid.select(
        F.round("similarity", 6).alias("similarity"),
        F.round(p, 6).alias("p_candidate"),
        F.lit(b).cast("int").alias("n_bands"),
        F.lit(int(band_size)).cast("int").alias("band_size"),
    )
