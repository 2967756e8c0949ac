"""Distributed n-gram evaluation metrics (BLEU family).

The reference's automated metrics (results/evaluate_sta_nar.py) are
model-based (perplexity/BLEURT/BERTScore); this module computes the
CLASSICAL n-gram metric computed natively: smoothed BLEU between
(prediction, reference) pairs. Two first-class uses in a data pipeline:
scoring generated text against references, and the self-BLEU diversity
probe over a corpus's own near-duplicate pairings (high self-BLEU =
mode-collapsed / repetitive generated data).

Definition (cross-engine exact, pinned by the DuckDB oracle and a
literal-Python parity test):

    p_n  = (clipped_n + 1) / (pred_ngrams_n + 1)        (add-1 smoothing)
    BP   = min(1, exp(1 - ref_len / pred_len))
    BLEU = BP * exp(mean_n ln p_n)                      (uniform weights)

where clipped_n = sum over distinct n-grams of min(count in prediction,
count in reference) — the standard modified precision.

Plan shape: ONE union-of-explodes pass (every n-gram order of both sides
tagged in the same exploded frame) -> groupBy (pair, n, gram) for the
clipped counts -> groupBy (pair) rollup. Contact is bounded by n-gram
occurrences, never pair text cross-products; at 100 TB this is two
exchanges over occurrence rows, both on uniform hash keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.text import normalize_text

__all__ = ["bleu_pairs", "rbo_at_k"]


def _side_grams(words_col: str, side: str, max_n: int):
    """Tagged (n, gram, side) struct array over one materialized words
    column — every order 1..max_n."""
    words = F.col(words_col)

    # CAUTION: a two-argument lambda given to F.transform is called as
    # (element, index) — a `lambda x, n=n:` default-arg closure silently
    # binds n to the INDEX. Close over n with factories instead.
    def _gram_at(n):
        return lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))

    def _tagged(n):
        return lambda g: F.struct(
            F.lit(n).alias("n"), g.alias("gram"), F.lit(side).alias("side")
        )

    per_n = []
    for n in range(1, max_n + 1):
        grams = F.when(
            F.size(words) >= n,
            F.transform(F.sequence(F.lit(0), F.size(words) - n), _gram_at(n)),
        ).otherwise(F.array().cast("array<string>"))
        per_n.append(F.transform(grams, _tagged(n)))
    return F.flatten(F.array(*per_n))


def _occurrence_rows(
    pairs: DataFrame, pred_col: str, ref_col: str, pair_col: str, max_n: int
):
    """(pair, n, gram, side) occurrence rows for BOTH sides and every
    order, from ONE scan of the pairs frame: both word arrays are
    materialized behind a single pair-keyed exchange and both sides'
    tagged grams ride one concat + one explode — the upstream pair
    construction (often a join) is planned exactly once."""
    parts = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    pre = pairs.select(
        F.col(pair_col),
        F.filter(
            F.split(normalize_text(F.col(pred_col)), " "), lambda s: s != ""
        ).alias("__pw"),
        F.filter(
            F.split(normalize_text(F.col(ref_col)), " "), lambda s: s != ""
        ).alias("__rw"),
    ).repartition(parts, F.col(pair_col))
    allgrams = F.concat(
        _side_grams("__pw", "p", max_n), _side_grams("__rw", "r", max_n)
    )
    return pre.select(F.col(pair_col), F.explode(allgrams).alias("g")).select(
        pair_col,
        F.col("g.n").alias("n"),
        F.col("g.gram").alias("gram"),
        F.col("g.side").alias("side"),
    )


def bleu_pairs(pairs: DataFrame, max_n: int = 2) -> DataFrame:
    """Smoothed BLEU-``max_n`` per (prediction, reference) pair.

    Output: ``(pair_id, pred_len, ref_len, p1..p{max_n}, bleu)`` —
    precisions and bleu rounded 6 dp; pairs whose prediction has
    no unigram (empty text) are absent (nothing to score).
    """
    occ = _occurrence_rows(pairs, "prediction", "reference", "pair_id", max_n)
    counts = (
        occ.groupBy("pair_id", "n", "gram")
        .agg(
            F.sum(F.when(F.col("side") == "p", 1).otherwise(0)).alias("cp"),
            F.sum(F.when(F.col("side") == "r", 1).otherwise(0)).alias("cr"),
        )
    )
    per_n = counts.groupBy("pair_id", "n").agg(
        F.sum(F.least("cp", "cr")).alias("clipped"),
        F.sum("cp").alias("denom"),
        F.sum("cr").alias("rdenom"),
    )
    # smoothed log-precision; a pair with no order-n pred grams (short
    # text) contributes ln((0+1)/(0+1)) = 0 for that order — neutral
    logp = F.log((F.col("clipped") + 1) / (F.col("denom") + 1))
    rolled = per_n.groupBy("pair_id").agg(
        F.sum(F.when(F.col("n") == 1, F.col("denom")).otherwise(0)).alias(
            "pred_len"
        ),
        # ref length rides the same rollup — no separate branch over the
        # occurrence rows, so the whole metric is explode -> two groupBys
        F.sum(F.when(F.col("n") == 1, F.col("rdenom")).otherwise(0)).alias(
            "ref_len"
        ),
        (F.sum(logp) / max_n).alias("__mean_logp"),
        *[
            F.round(
                F.exp(
                    F.sum(F.when(F.col("n") == i, logp).otherwise(None))
                ),
                6,
            ).alias(f"p{i}")
            for i in range(1, max_n + 1)
        ],
    )
    bp = F.least(
        F.lit(1.0), F.exp(1.0 - F.col("ref_len") / F.col("pred_len"))
    )
    bleu = bp * F.exp(F.col("__mean_logp"))
    bleu = F.round(bleu, 6)
    return (
        rolled.filter(F.col("pred_len") > 0)
        .select(
            "pair_id",
            F.col("pred_len").cast("bigint").alias("pred_len"),
            F.col("ref_len").cast("bigint").alias("ref_len"),
            *[f"p{i}" for i in range(1, max_n + 1)],
            bleu.alias("bleu"),
        )
    )


def rbo_at_k(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 50,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap between two top-k rankings (Webber et al.
    2010), truncated at depth ``k``:

        RBO@k = (1 - p) * sum_{d=1..k} p^(d-1) * X_d / d

    where ``X_d`` is the size of the intersection of the two rankings'
    depth-``d`` prefixes. The top-weighted agreement statistic for
    INDEFINITE rankings — Kendall's tau needs both lists to rank the
    same items and weights all depths equally; RBO tolerates disjoint
    tails and geometrically discounts depth, which is what comparing
    two retrieval runs or two quality orderings actually wants.

    Inputs are (id, rank) frames with ranks 1..k (the callers produce
    them via the distributed top-k idiom — ``orderBy().limit(k)`` plans
    as TakeOrdered, never a global single-partition window). Everything
    here is k-row arithmetic: full outer join of the two prefix lists,
    ``m = max(rank_a, rank_b)`` per shared id (an id missing from one
    list never enters an intersection — coalesced past k), the X_d
    curve as a cumulative histogram of ``m`` over the d = 1..k grid,
    and one weighted sum. Returns ONE row
    ``(k, p, rbo, overlap_at_k)`` (overlap_at_k = X_k / k, the plain
    set-overlap of the full prefixes).

    Deterministic: ranks are integers, ``p^(d-1)`` is rounded to 12 dp
    per term in both engines (pow replay — the lsh_tuning_curve
    contract), and the weighted sum is over k rounded terms.
    """
    a = ranked_a.select(
        F.col("doc_id").alias("__id"), F.col("rank").alias("__ra")
    )
    b = ranked_b.select(
        F.col("doc_id").alias("__id"), F.col("rank").alias("__rb")
    )
    joined = a.join(b, "__id", "full").select(
        F.greatest(
            F.coalesce(F.col("__ra"), F.lit(k + 1)),
            F.coalesce(F.col("__rb"), F.lit(k + 1)),
        ).alias("__m")
    )
    hist = (
        joined.where(F.col("__m") <= k)
        .groupBy("__m")
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    grid = ranked_a.sparkSession.range(1, k + 1).select(
        F.col("id").cast("int").alias("__d")
    )
    xd = (
        grid.join(F.broadcast(hist), F.col("__m") <= F.col("__d"), "left")
        .groupBy("__d")
        .agg(F.coalesce(F.sum("__c"), F.lit(0.0)).alias("__xd"))
    )
    term = (
        F.round(F.pow(F.lit(float(p)), F.col("__d") - 1), 12)
        * F.col("__xd")
        / F.col("__d")
    )
    return xd.agg(
        F.lit(int(k)).alias("k"),
        F.lit(float(p)).alias("p"),
        F.round(F.lit(1.0 - p) * F.sum(term), 6).alias("rbo"),
        F.round(
            F.max(F.when(F.col("__d") == k, F.col("__xd"))) / F.lit(float(k)),
            6,
        ).alias("overlap_at_k"),
    )
