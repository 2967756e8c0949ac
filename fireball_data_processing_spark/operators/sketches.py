"""Mergeable-sketch aggregation: HLL distinct rollups, count-min heavy
hitters, and a bloom-filter join pre-filter.

At 100 TB, exact distinct counts and exact membership checks force
full shuffles of the raw values; sketches replace them with small,
mergeable summaries. The patterns here are the three workhorses:

- **HLL rollup** (:func:`hll_distinct`, :func:`hll_rollup`): sketch once
  at the finest grain (e.g. per day), then roll up any coarser grain by
  merging sketches — the raw data is scanned exactly once, and a
  month/total/all-time estimate is a union of per-day 4 KB states, not a
  rescan. This is what keeps "distinct users per X" dashboards linear at
  scale; the reference computes `num_participants` exactly per instance
  (small groups) — `distill.py`-era heuristics at corpus granularity need
  the sketch form.
- **Count-min heavy hitters** (:func:`heavy_hitters`): the distributed
  two-phase exact top-k (house pattern in ``vocab_top_tokens``) verified
  against a count-min sketch whose ``estimate >= true`` lower-bound
  guarantee is checked per candidate. The sketch itself is built by one
  distributed pass and merges to a driver-side summary of
  ``depth x width`` counters — that bounded merge IS the point of the
  sketch (same contract as ``ivf_query``'s probe-cell collect).
- **Bloom pre-join** (:func:`bloom_bitmap`, :func:`bloom_might_contain`,
  :func:`bloom_prejoin`): build a bitset over the small join side's keys,
  ship it to the big side as ONE literal array (what Spark's runtime
  bloom filters do internally — `bloom_filter_agg` is not exposed to
  public SQL in Spark 4.1, so the bitset is built from public primitives:
  explode k md5-derived positions -> bit_or per 64-bit word), and drop
  non-matching rows BEFORE the join shuffle. No false negatives, so the
  join result is exactly the plain join's — only the shuffled volume
  shrinks.

Determinism: every sketch here is seed-fixed and order-insensitive
(HLL registers and bloom bits are max/or-folds; CMS counters are sums),
so the oracle-checked tolerance/bound flags are stable across runs and
partitionings.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hll_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Approximate distinct ``value_col`` per ``keys`` via a DataSketches
    HLL aggregate: ``(keys..., n_approx bigint)``. One shuffle on the
    group keys; partial sketches merge map-side, so the exchange carries
    ~``2^12`` bytes per group regardless of group size."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(value_col), F.lit(12))
        ).alias("n_approx")
    )


def hll_rollup(
    df: DataFrame,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Sketch at ``fine_keys`` grain, then merge the per-group sketches up
    to ``coarse_keys`` WITHOUT rescanning the input: the second aggregation
    consumes 4 KB sketch states, not raw rows.

    Returns ``(coarse_keys..., n_merged bigint)``. ``coarse_keys`` must be
    a subset of ``fine_keys`` (a genuine rollup).

    Note the merged estimate is not bit-identical to sketching the coarse
    grain directly — DataSketches HLL switches from the HIP estimator to
    the composite estimator after a union — but both stay within the
    configured relative error, which is what the oracle-checked tolerance
    flags assert.
    """
    missing = [k for k in coarse_keys if k not in fine_keys]
    if missing:
        raise ValueError(
            f"coarse_keys {missing} not in fine_keys {list(fine_keys)}; "
            "hll_rollup merges upward along a grouping hierarchy"
        )
    fine = df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(12)).alias("__sketch")
    )
    return fine.groupBy(*coarse_keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("__sketch"))).alias(
            "n_merged"
        )
    )


def _hash_positions(value: Column, count: int, modulus: int) -> Column:
    """``count`` hash positions in ``[0, modulus)`` for ``value`` as an
    ``array<bigint>``, position ``i`` derived from md5 of the value
    salted with ``i`` — the repo's portable random primitive (the same
    construction DuckDB reproduces, so sketch contents are cross-engine
    oracle-able). Shared by the CMS counter rows and the bloom bits —
    ONE copy, because the DuckDB oracle SQL mirrors it literally."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(count - 1)),
        lambda i: F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", value.cast("string"), i)), 1, 15
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(modulus),
        ),
    )


def cms_counters(
    df: DataFrame,
    col: str,
    depth: int = 5,
    width: int = 2048,
) -> DataFrame:
    """Count-min sketch of ``col`` as a counter TABLE ``(row, pos, cnt)``
    with at most ``depth * width`` rows — built in one distributed pass
    (explode ``depth`` positions per input row, one groupBy whose partials
    merge map-side). Spark 4 dropped the public ``stat.countMinSketch``
    and ``count_min_sketch``'s binary is an opaque JVM format, so the
    sketch lives as a DataFrame: it stays distributed, merges by unioning
    and re-summing, and probes with a broadcast join — no driver-side
    sketch object, no deserialization."""
    vals = df.select(F.col(col).cast("string").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    return (
        vals.select(
            F.posexplode(_hash_positions(F.col("__v"), depth, width)).alias(
                "row", "pos"
            )
        )
        .groupBy("row", "pos")
        .agg(F.count("*").alias("cnt"))
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    depth: int = 5,
    width: int = 2048,
) -> DataFrame:
    """Exact top-``k`` values of ``col`` with count-min-sketch bound
    checks: ``(value, n_exact, rank, cms_est, cms_lower_ok, cms_upper_ok)``.

    The exact top-k runs the distributed two-phase pattern (partial counts
    map-side, then one shuffle); ties break on the value string so the
    result is deterministic. Each candidate is probed against the
    :func:`cms_counters` table via a broadcast join (the counter table is
    ≤ ``depth * width`` rows) and its estimate is the min over the
    ``depth`` rows:

    - ``cms_lower_ok``: ``est >= true`` — a hard guarantee of CMS (every
      counter a value touches includes all its occurrences), must always
      hold;
    - ``cms_upper_ok``: ``est <= true + (e / width) * N`` — the classic
      error bound, holds with high probability per item.

    This is the verification harness, and it deliberately reads the
    input three times (exact counts, counter build, total) — at scale,
    the production artifact is :func:`cms_counters` alone (ONE pass;
    persist its ≤ depth x width rows and probe any candidate set against
    the materialized table).
    """
    from fireball_data_processing_spark.operators.windows import paginate

    # distributed top-k: paginate compiles to TakeOrderedAndProject
    # (per-partition top-k merged over k rows) — the vocabulary-sized
    # global row_number window would sort every distinct value in ONE
    # task; only the k survivors get ranked here.
    counts = (
        df.select(F.col(col).cast("string").alias("value"))
        .filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count("*").alias("n_exact"))
    )
    exact = paginate(counts, [("n_exact", False)], "value", 0, k).select(
        "value",
        "n_exact",
        F.row_number()
        .over(Window.orderBy(F.desc("n_exact"), F.asc("value")))
        .cast("bigint")
        .alias("rank"),
    )
    counters = cms_counters(df, col, depth, width)
    total = counters.filter(F.col("row") == 0).agg(
        F.sum("cnt").alias("__n_total")
    )
    probes = exact.select(
        "value",
        "n_exact",
        "rank",
        F.posexplode(_hash_positions(F.col("value"), depth, width)).alias(
            "row", "pos"
        ),
    )
    est = (
        probes.join(F.broadcast(counters), ["row", "pos"], "left")
        .groupBy("value", "n_exact", "rank")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )
    bound = (F.lit(2.718281828 / width) * F.col("__n_total")).cast("bigint")
    return est.crossJoin(F.broadcast(total)).select(
        "value",
        "n_exact",
        "rank",
        "cms_est",
        (F.col("cms_est") >= F.col("n_exact")).alias("cms_lower_ok"),
        (F.col("cms_est") <= F.col("n_exact") + bound).alias("cms_upper_ok"),
    )


def _bit_mask(bit: Column) -> Column:
    """``2^bit`` as bigint for ``bit`` in [0, 62]: powers of two are exact
    in doubles, so ``pow`` round-trips precisely — the shift functions'
    Python wrappers only take a constant shift amount, this form takes a
    Column and stays portable to the DuckDB oracles."""
    return F.pow(F.lit(2.0), bit).cast("bigint")


_BLOOM_BITS = 1 << 16
_BLOOM_HASHES = 5


def bloom_bitmap(df: DataFrame, key_col: str) -> list[int]:
    """Build a ``_BLOOM_BITS``-bit, ``_BLOOM_HASHES``-hash bloom bitset
    over ``df[key_col]`` and return it as words of 63 usable bits
    (positive-bigint packing: bit 63 never set, so the words survive any
    signed representation, including the oracle's).

    The build is distributed — explode each key's hash positions,
    ``bit_or`` the per-word masks in one aggregation (partials merge
    map-side, the exchange carries at most ``_BLOOM_BITS/63 + 1`` rows) —
    and the result is ONE bounded collect (~8 KB),
    mirroring how Spark's internal runtime bloom filters ship build-side
    state to the probe side. Eager by design; callers cache the list.
    """
    n_words = _BLOOM_BITS // 63 + 1
    words = (
        df.select(
            F.explode(
                _hash_positions(F.col(key_col), _BLOOM_HASHES, _BLOOM_BITS)
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 63).cast("int").alias("word"),
            _bit_mask(F.col("pos") % 63).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * n_words
    for r in words:
        bitmap[r["word"]] = r["bits"]
    return bitmap


def bloom_might_contain(key: Column, bitmap: list[int]) -> Column:
    """Pure-expression bloom membership probe against a literal bitmap:
    true iff every hash position's bit is set. No join, no shuffle, no
    Python — the bitmap enters the plan as ONE ``array<bigint>`` literal
    (single parsed expression, constant-folded before codegen — the
    ``_matrix_literal`` construction), and the probe is ``forall`` over
    ``_BLOOM_HASHES`` element_at + mask tests, so it runs inside whole-stage
    codegen on the probe side's scan."""
    words = F.expr(
        "array(" + ",".join(f"{int(w)}L" for w in bitmap) + ")"
    )
    return F.forall(
        _hash_positions(key, _BLOOM_HASHES, _BLOOM_BITS),
        lambda p: (
            F.element_at(words, (p / 63).cast("int") + 1).bitwiseAND(
                _bit_mask(p % 63)
            )
            != 0
        ),
    )


def bloom_prejoin(
    large: DataFrame,
    small: DataFrame,
    large_key: str,
    small_key: str,
) -> DataFrame:
    """``large`` filtered by a bloom filter built over ``small``'s keys,
    ready to join: every row of ``large`` that has a partner in ``small``
    survives (no false negatives), so ``bloom_prejoin(L, S).join(S, ...)``
    equals ``L.join(S, ...)`` exactly — but the rows entering the join
    (and its shuffle, when the join is too big to broadcast) are cut to
    the matches plus the bloom's false-positive residue.

    Locally a broadcast hash join makes this redundant; the operator
    targets the 100 TB shape where BOTH sides shuffle and dropping the
    large side's non-matching rows before the exchange is the win.
    """
    bitmap = bloom_bitmap(small, small_key)
    return large.filter(bloom_might_contain(F.col(large_key), bitmap))


def corpus_minhash_overlap(
    docs: DataFrame,
    corpus_col: str = "source",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Pairwise corpus-overlap matrix: for every pair of corpora (values
    of ``corpus_col``), the MinHash-ESTIMATED Jaccard similarity of their
    shingle SETS alongside the exact value — the data-mixing diagnostic
    ("how much of source B is already in source A?") that decides
    cross-source dedup and mixture weights before any training run.
    Per-corpus MinHash is the mergeable-sketch form of the per-doc
    signature (operators/dedup.py `minhash_signature`, same
    ``min(md5(i || '#' || shingle))`` hash family, Broder 1997): a
    corpus's signature is the min-fold over ALL its shingles, so it
    merges across partitions, days, or snapshots without rescoping.

    Output, one row per unordered pair (``corpus_a < corpus_b``):
    ``(corpus_a, corpus_b, est_jaccard, exact_jaccard, n_shingles_a,
    n_shingles_b, n_common)``. ``est_jaccard`` = fraction of the
    ``num_hashes`` signature slots that agree (the unbiased MinHash
    estimator); the exact columns come from a distinct-shingle rollup of
    the SAME exploded frame.

    Scale shape: ONE shingle explode feeds both paths. The sketch path
    is a corpus-grain groupBy to ``num_hashes`` mins (map-side partial
    combine does the work; output is #corpora rows). The exact path is a
    shingle-grain groupBy collecting each shingle's corpus set, exploded
    to unordered corpus pairs — contact is bounded by shingles SHARED
    between corpora, never a cross product of documents. The final join
    frame is #corpora² rows (corpus catalogs are dozens, not millions).
    At 100 TB drop the exact columns (`exact=False` analog: select only
    the sketch path) — the estimate is the point; the exact path here is
    the built-in calibration check.
    """
    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.operators.dedup import shingles_of_words

    # NO repartition on the corpus key before the explode (unlike the
    # per-doc `_exploded_shingles`): corpus_col has few distinct values,
    # so keying the exchange on it would throttle the fan-out to
    # #corpora tasks. The explode rides the scan partitioning; the
    # corpus-grain groupBys below shuffle #corpora-sized partials only.
    # distinct FIRST, then persist: the num_hashes md5 evaluations per
    # row dominate this operator (measured 3x at sf0.1 when they run per
    # shingle OCCURRENCE instead of per distinct (corpus, shingle)), and
    # the distinct frame has two consumers (signature + exact paths) —
    # the persist pays the dedup shuffle once (the near_dup_pairs
    # shared-pass lesson: broadcast/branch subtrees re-execute unpersisted
    # shared plans)
    sh = (
        docs.select(
            F.col(corpus_col).alias("__corpus"),
            F.split(normalize_text(F.col("text")), " ").alias("__words"),
        )
        .select(
            "__corpus",
            F.explode(shingles_of_words(F.col("__words"), shingle_k)).alias(
                "shingle"
            ),
        )
        # ONE exchange for dedup AND the exact-path groupBy:
        # hash(shingle) is a subset of the distinct's (corpus, shingle)
        # clustering, so the distinct runs in place on the repartitioned
        # stream, and the cached frame's partitioning (InMemoryRelation
        # preserves it) already satisfies `common`'s groupBy("shingle") —
        # no second occurrence-grain exchange. The trade (no map-side
        # partial dedup on the repartition) loses only within-task
        # duplicate suppression; measured a win at every SF tried.
        .repartition(F.col("shingle"))
        .distinct()
        .persist()
    )

    sigs = sh.groupBy("__corpus").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}#"), F.col("shingle")))).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )
    # unordered corpus pairs sharing >= 1 shingle, with exact intersection
    # counts: per-shingle corpus sets are tiny (bounded by #corpora), so
    # the pair explode is |shared shingles| x O(#corpora^2) worst case
    common = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("__corpus")).alias("__cs"))
        .filter(F.size("__cs") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("__cs"),
                        lambda a, i: F.transform(
                            F.slice(
                                F.col("__cs"),
                                i + 2,
                                F.greatest(F.size("__cs") - i - 1, F.lit(0)),
                            ),
                            lambda b: F.struct(a.alias("ca"), b.alias("cb")),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.ca").alias("corpus_a"), F.col("p.cb").alias("corpus_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    a = sigs.select(
        F.col("__corpus").alias("corpus_a"),
        F.col("__n").alias("n_shingles_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    b = sigs.select(
        F.col("__corpus").alias("corpus_b"),
        F.col("__n").alias("n_shingles_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )
    pairs = (
        # the pair frame is #corpora x #corpora (catalog-sized, never
        # corpus-sized) — broadcast the right side so the `<` condition
        # plans as a BroadcastNestedLoopJoin, not a cartesian exchange
        a.join(F.broadcast(b), F.col("corpus_a") < F.col("corpus_b"))
        .join(common, ["corpus_a", "corpus_b"], "left")
        .select(
            "corpus_a",
            "corpus_b",
            F.round(matches / F.lit(num_hashes), 6).alias("est_jaccard"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0))
                / (
                    F.col("n_shingles_a")
                    + F.col("n_shingles_b")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                ),
                6,
            ).alias("exact_jaccard"),
            "n_shingles_a",
            "n_shingles_b",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
        )
    )
    return pairs


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
    n_buckets: int = 128,
) -> DataFrame:
    """Distributed quantile estimation from a MERGEABLE equi-width
    histogram: ``(q, est, exact, abs_err)``, one row per requested
    quantile, every double rounded to 6 dp.

    The scale story (why not just sort): an exact percentile over 100 TB
    is a global sort or a per-group buffer of every value. The histogram
    path is two aggregate passes, each with map-side partial combine —
    (1) min/max/count, (2) counts per bucket, an exchange of at most
    ``n_buckets`` longs per partition regardless of data size — and the
    bucket->quantile interpolation runs on the ``n_buckets``-row summary.
    Bucket counts are order-insensitive integer sums, so the sketch is
    deterministically mergeable across shards/streams (a union of
    histograms is the histogram of the union; tested), and the estimate
    is engine-exact: every float in ``lo + w*(b + (q*n - cum_prev)/cnt)``
    is derived from the same doubles in any engine, no summation-order
    noise anywhere.

    ``exact`` (interpolated percentile, Spark ``percentile`` ==
    DuckDB/ANSI ``quantile_cont``) is the verification column: it buffers
    values per aggregation and is small-SF-grade; a 100 TB run drops it
    (or swaps in the two-phase bucketed-rank idiom of
    ``selection.budget_fill``) and ships only the histogram estimate.

    Extends the reference's exact single-node percentile usage
    (results_analysis-style summary stats) with the mergeable form a
    cluster needs.
    """
    v = F.col(value_col).cast("double")
    qs = [float(q) for q in quantiles]
    stats = df.agg(
        F.min(v).alias("__lo"),
        F.max(v).alias("__hi"),
        F.count(v).cast("double").alias("__n"),
        F.percentile(v, F.array(*[F.lit(q) for q in qs])).alias("__ex"),
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    bucket = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(
            F.floor((v - F.col("__lo")) / width),
            F.lit(n_buckets - 1),
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    counts = (
        df.crossJoin(F.broadcast(stats.select("__lo", "__hi")))
        .select(bucket.alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).cast("double").alias("__cnt"))
    )
    # n_buckets rows: the single-partition window is bounded by design
    cum_w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    cumulative = counts.select(
        "__b",
        "__cnt",
        F.sum("__cnt").over(cum_w).alias("__cum"),
        (F.sum("__cnt").over(cum_w) - F.col("__cnt")).alias("__cumprev"),
    )
    qdf = (
        stats.select(
            F.posexplode(F.array(*[F.lit(q) for q in qs])).alias("__i", "q"),
            "__lo",
            "__hi",
            "__n",
            "__ex",
        )
        .select(
            "q",
            "__lo",
            "__hi",
            (F.col("q") * F.col("__n")).alias("__r"),
            F.element_at(F.col("__ex"), F.col("__i") + 1).alias("__exact"),
        )
    )
    # each target rank lands in exactly one bucket: cumprev < r <= cum
    hit = qdf.join(
        F.broadcast(cumulative),
        (F.col("__cumprev") < F.col("__r")) & (F.col("__cum") >= F.col("__r")),
        "left",
    )
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    est = F.when(F.col("__hi") > F.col("__lo"), F.col("__lo") + w * (
        F.col("__b") + (F.col("__r") - F.col("__cumprev")) / F.col("__cnt")
    )).otherwise(F.col("__lo"))
    return hit.select(
        F.col("q"),
        F.round(est, 6).alias("est"),
        F.round(F.col("__exact"), 6).alias("exact"),
        F.round(F.abs(est - F.col("__exact")), 6).alias("abs_err"),
    )
