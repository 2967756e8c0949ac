"""Table profiling: per-column datasheet statistics in one pass.

Every corpus intake starts with "what is actually in this table" —
null rates, cardinalities, value ranges — and at 100 TB the profile
must come from ONE scan, not a loop of per-column queries (the
reference's ad-hoc ``count_num_chars_in_dataset.py`` script is the
single-column special case). The long-format output (one row per
column) is what drift monitors and data-quality gates consume.

Scale notes:

- All statistics for all columns aggregate in a single ``agg`` call —
  one scan, one reduce; no per-column jobs.
- ``exact_distinct=False`` (the default) uses HyperLogLog
  (``approx_count_distinct``, mergeable, bounded memory). The exact
  variant is a COUNT(DISTINCT) per column — fine at oracle scale,
  and what the catalog query uses so DuckDB can reproduce it, but a
  multi-distinct aggregate EXPANDs the input once per distinct column,
  so prefer the sketch at corpus scale.
- min/max are rendered to strings so one schema serves every column
  type; numeric consumers re-cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "audience_overlap",
    "lorenz_gini",
    "profile_columns",
    "vocab_growth",
    "vocab_richness",
    "zipf_fit",
]


def profile_columns(
    df: DataFrame,
    exact_distinct: bool = False,
) -> DataFrame:
    """One-pass per-column profile, long format:
    ``(column, n_rows, n_null, n_distinct, min_value, max_value)``.

    ``n_distinct`` counts non-null values (exact or HLL per
    ``exact_distinct``); ``min_value``/``max_value`` are the column's
    extremes cast to string (NULL for an all-null column).
    """
    names = df.columns
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c in names:
        col = F.col(c)
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"__null_{c}")
        )
        nd = (
            F.countDistinct(col)
            if exact_distinct
            else F.approx_count_distinct(col)
        )
        aggs.append(nd.cast("bigint").alias(f"__nd_{c}"))
        aggs.append(F.min(col).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"__max_{c}"))
    wide = df.agg(*aggs)
    # pivot the single wide row to long format with a stack expression —
    # the reshape runs on a ONE-ROW frame, so its cost is zero
    parts = ", ".join(
        f"'{c}', __null_{c}, __nd_{c}, __min_{c}, __max_{c}" for c in names
    )
    stacked = wide.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(names)}, {parts}) AS "
            "(column, n_null, n_distinct, min_value, max_value)"
        ),
    )
    return stacked.select(
        "column", "n_rows", "n_null", "n_distinct", "min_value", "max_value"
    )


def vocab_growth(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law probe): split the corpus into
    ``n_shards`` deterministic shards (``doc_id % n_shards``) and report,
    per shard ordinal, how many NEW token types the shard contributes and
    the cumulative type/occurrence totals as shards accrete in order —
    the standard corpus-diversity datasheet curve (a flattening curve
    means new data is mostly re-treading the existing vocabulary; LLM
    data-mixing decisions read exactly this signal). Tokenization is the
    retrieval tokenizer (lowercased ``[a-z0-9]+`` runs).

    Output: ``(shard_idx, shard_tokens, new_types, cum_types,
    cum_tokens)``, one row per non-empty shard.

    Scale shape: a token's contributing shard is ``min(shard)`` over its
    occurrences — ONE explode + a token-grain groupBy (map-side partial
    min), then an ``n_shards``-row rollup; the cumulative sums run on
    that tiny frame (the house bounded-window idiom — the one
    unpartitioned window touches ``n_shards`` rows, never the corpus).
    Occurrence totals ride the same exploded frame, so the corpus is
    tokenized exactly once.
    """
    from pyspark.sql import Window

    from fireball_data_processing_spark.operators.retrieval import tokens

    occ = docs.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("__shard"),
        F.explode(tokens(F.col("text"))).alias("__tok"),
    )
    first_seen = (
        occ.groupBy("__tok")
        .agg(F.min("__shard").alias("shard_idx"))
        .groupBy("shard_idx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    per_shard = occ.groupBy(F.col("__shard").alias("shard_idx")).agg(
        F.count(F.lit(1)).cast("bigint").alias("shard_tokens")
    )
    w = Window.orderBy("shard_idx").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_shard.join(first_seen, "shard_idx", "left")
        .select(
            "shard_idx",
            "shard_tokens",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .withColumn("cum_types", F.sum("new_types").over(w).cast("bigint"))
        .withColumn("cum_tokens", F.sum("shard_tokens").over(w).cast("bigint"))
    )


def zipf_fit(docs: DataFrame, max_rank: int = 1000) -> DataFrame:
    """Zipf power-law fit of the corpus token-frequency curve — the
    one-row vocabulary datasheet (Zipf 1949; the standard corpus sanity
    check next to the Heaps'-law growth curve :func:`vocab_growth`):
    OLS of ``ln(count)`` on ``ln(rank)`` over the ``max_rank`` most
    frequent tokens gives

        count(rank) ≈ exp(intercept) * rank ** (-zipf_exponent)

    with a natural-language corpus near exponent 1 and ``r2`` close to
    1; a corpus of boilerplate, deduplicated templates, or synthetic
    junk bends the curve and drops the fit. Fitting the HEAD only is
    the standard practice — the singleton tail deviates from the power
    law in every real corpus and would swamp the regression.

    Output (one row): ``(n_terms, zipf_exponent, intercept, r2)``,
    rounded — the sums behind the closed-form OLS accumulate in
    engine-specific order, and the 6-dp rounding absorbs that float noise
    (DuckDB-oracle-checked).

    Scale shape: one token explode → vocabulary-bounded count table
    (Zipf-bounded, not corpus-bounded) → ONE global rank window over
    that bounded frame (same boundedness contract as the top-terms
    datasheet) → one closed-form aggregate over ``max_rank`` rows.
    Ranks tie-break on the token string, so the fit is deterministic
    under equal counts."""
    from pyspark.sql import Window

    from fireball_data_processing_spark.functions.text import normalize_text

    toks = docs.select(
        F.explode(
            F.split(normalize_text(F.col("text")), " ")
        ).alias("__tok")
    ).filter(F.col("__tok") != "")
    counts = toks.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    w = Window.orderBy(F.col("__c").desc(), F.col("__tok").asc())
    ranked = (
        counts.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= max_rank)
        .select(
            F.log(F.col("__r").cast("double")).alias("__x"),
            F.log("__c").alias("__y"),
        )
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("syy"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    sse_top = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r2 = (sse_top * sse_top) / (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(-slope, 6).alias("zipf_exponent"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def audience_overlap(
    df: DataFrame,
    entity_col: str,
    category_col: str,
    categories: list[str],
) -> DataFrame:
    """Exact pairwise audience overlap ("how many users do segments A
    and B share?") without any pairwise distinct-count join: fold each
    entity's category memberships into ONE bitmask (``bit_or`` over
    per-category bit literals — order-insensitive, partial-combining),
    histogram the masks (at most ``2^len(categories)`` rows), and read
    every pair's intersection off the tiny mask histogram. Two
    aggregates over one scan; the classic alternative — a
    ``COUNT(DISTINCT)`` self-join per category pair — shuffles the
    entity set ``O(k^2)`` times.

    Returns one row per unordered category pair:
    ``(cat_a, cat_b, n_a, n_b, n_both, jaccard)``. The exact-set dual
    of the MinHash ``corpus_minhash_overlap`` (operators/sketches.py):
    use this while ``2^k`` masks fit an aggregate, the sketch when the
    category alphabet itself is huge.
    """
    mapped = F.col(category_col)
    expr = None
    for i, c in enumerate(categories):
        leg = F.when(mapped == c, F.lit(1 << i))
        expr = leg if expr is None else expr.when(mapped == c, F.lit(1 << i))
    mask_bit = expr.otherwise(F.lit(0))
    masks = (
        df.select(F.col(entity_col).alias("__e"), mask_bit.alias("__bit"))
        .groupBy("__e")
        .agg(F.bit_or("__bit").alias("__m"))
        .groupBy("__m")
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    pair_rows = [
        F.struct(
            F.lit(categories[i]).alias("cat_a"),
            F.lit(categories[j]).alias("cat_b"),
            F.lit(1 << i).alias("__ba"),
            F.lit(1 << j).alias("__bb"),
        )
        for i in range(len(categories))
        for j in range(i + 1, len(categories))
    ]
    pairs = (
        df.sparkSession.range(1)
        .select(F.explode(F.array(*pair_rows)).alias("p"))
        .select("p.*")
    )
    has = lambda b: (F.col("__m").bitwiseAND(b) != 0).cast("int")  # noqa: E731
    joined = pairs.crossJoin(F.broadcast(masks))
    out = joined.groupBy("cat_a", "cat_b").agg(
        F.sum(F.col("__c") * has(F.col("__ba"))).cast("bigint").alias("n_a"),
        F.sum(F.col("__c") * has(F.col("__bb"))).cast("bigint").alias("n_b"),
        F.sum(
            F.col("__c") * has(F.col("__ba")) * has(F.col("__bb"))
        ).cast("bigint").alias("n_both"),
    )
    return out.select(
        "cat_a",
        "cat_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(
            F.col("n_both")
            / F.when(
                (F.col("n_a") + F.col("n_b") - F.col("n_both")) > 0,
                F.col("n_a") + F.col("n_b") - F.col("n_both"),
            ),
            6,
        ).alias("jaccard"),
    )


def vocab_richness(tokens: DataFrame, token_col: str) -> DataFrame:
    """Species-richness estimators for the corpus vocabulary, off the
    frequency-of-frequencies alone: how many types does the FULL
    population hold, given what this sample shows? Complements the
    extrapolation view of vocab_growth (Heaps' law fits the observed
    curve; Chao1 bounds the asymptote) and zipf_fit (the shape of the
    head; richness lives in the tail).

    Returns ONE row:

    - ``n_tokens`` / ``v_observed`` — corpus size and observed types;
    - ``f1`` / ``f2`` — singleton and doubleton type counts;
    - ``chao1`` — the bias-corrected Chao1 lower-bound estimate of true
      vocabulary size, ``V + f1*(f1-1) / (2*(f2+1))`` (defined even at
      f2 = 0, unlike the classical ``V + f1^2/(2 f2)``);
    - ``good_coverage`` — Good's coverage estimate ``1 - f1/N``, the
      probability that the next token drawn is an already-seen type
      (the Good-Turing total-mass identity);
    - ``gt_singleton_rate`` — the Good-Turing adjusted count for
      hapaxes, ``2*f2/f1`` (how often a "singleton" type really
      occurs), NULL when f1 = 0.

    Plan: one (token) count aggregate — the only data-proportional
    exchange — then one conditional-sum aggregate over the count table.
    Both partial-combine; nothing collects.
    """
    counts = (
        tokens.select(F.col(token_col).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    f1 = F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).cast("bigint")
    f2 = F.sum(F.when(F.col("r") == 2, 1).otherwise(0)).cast("bigint")
    return counts.agg(
        F.sum("r").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("v_observed"),
        f1.alias("f1"),
        f2.alias("f2"),
    ).select(
        "n_tokens",
        "v_observed",
        "f1",
        "f2",
        F.round(
            F.col("v_observed")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1).cast("double")
            / (F.lit(2.0) * (F.col("f2") + 1).cast("double")),
            6,
        ).alias("chao1"),
        F.round(
            F.lit(1.0)
            - F.col("f1").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("good_coverage"),
        F.round(
            F.when(
                F.col("f1") > 0,
                F.lit(2.0)
                * F.col("f2").cast("double")
                / F.col("f1").cast("double"),
            ),
            6,
        ).alias("gt_singleton_rate"),
    )


def lorenz_gini(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Lorenz curve (at ``n_buckets`` equal-count points) + Gini
    coefficient of how ``value_col`` mass distributes across rows —
    "is corpus token mass concentrated in a few giant documents?", the
    inequality profile that decides whether doc-count quotas or
    token-count quotas are the right budget unit (a Gini near 0 makes
    them equivalent; near 1 they diverge wildly).

    Exact form: one global sort by ``(value, key)`` (the unique key
    makes ranks engine-deterministic under ties) feeding both the
    ntile bucketing and the rank-weighted Gini identity

        G = 2 * sum(i * x_i) / (n * sum(x)) - (n + 1) / n .

    The total sort is the documented diagnostic-only cost — at 100 TB
    bucket values through ``sketches.histogram_quantiles`` cuts first
    and walk bucket counts instead (midrank arithmetic, same identity).

    Returns ``(bucket, n, value_share, cum_value_share, gini)`` ordered
    by bucket; ``cum_value_share`` at bucket b is the Lorenz ordinate
    L(b / n_buckets).
    """
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("__v"), F.col("__k"))
    ranked = df.select(
        F.col(value_col).cast("double").alias("__v"),
        F.col(key_col).alias("__k"),
    ).select(
        "__v",
        F.row_number().over(w).alias("__i"),
        F.ntile(n_buckets).over(w).alias("bucket"),
    )
    per = ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__v").alias("__mass"),
        F.sum(F.col("__i").cast("double") * F.col("__v")).alias("__iwx"),
        F.max("__i").cast("double").alias("__max_i"),
    )
    tot = Window.partitionBy()
    cum = Window.partitionBy().orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_all = F.sum("n").over(tot).cast("double")
    mass_all = F.sum("__mass").over(tot)
    gini = (
        F.lit(2.0) * F.sum("__iwx").over(tot) / (n_all * mass_all)
        - (n_all + 1.0) / n_all
    )
    return per.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n",
        F.round(F.col("__mass") / mass_all, 6).alias("value_share"),
        F.round(F.sum("__mass").over(cum) / mass_all, 6).alias(
            "cum_value_share"
        ),
        F.round(gini, 6).alias("gini"),
    ).orderBy("bucket")
