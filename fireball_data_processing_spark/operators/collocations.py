"""Collocation statistics: document-level PMI over token pairs.

Pointwise mutual information over co-occurrence-in-document is the
standard signal for vocabulary construction, tokenizer merge auditing,
and phrase mining on a training corpus: PMI(a,b) =
ln(P(a,b) / (P(a) P(b))) with probabilities estimated as document
frequencies. High-PMI pairs are phrases ("hash"+"join"); near-zero
pairs co-occur by chance.

Scale design:

- **Pairs are generated per row with higher-order functions**, never a
  self-join: an equi-self-join of the token table on doc_id would
  duplicate the tokenize subtree in the physical plan (Spark has no
  cross-consumer common-subexpression reuse) AND shuffle token rows
  twice. `pair_expr` builds each doc's sorted-distinct term pairs as
  one array expression — zero extra scans, zero joins; the only
  shuffles are the pair-count and term-count aggregations.
- **Per-doc term cap** (`max_terms`): pair count is quadratic in a
  doc's distinct terms, so an adversarial mega-document is capped
  BEFORE pair expansion (deterministic: sorted order keeps the same
  terms on every engine).
- **One aggregation for singles AND pairs**: term document frequencies
  travel in the same exploded stream as the pairs (each term emitted in
  both struct orientations), then reach pair rows via two windows over
  the aggregate — so the plan has exactly one corpus scan and no
  aggregate-to-aggregate joins that would re-execute it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fireball_data_processing_spark.operators.retrieval import tokens

__all__ = ["pair_expr", "doc_pmi"]


def pair_expr(terms: Column) -> Column:
    """All unordered pairs (a < b) of a sorted-distinct string array, as
    array<struct<ta,tb>> — pure expression, each pair exactly once."""
    return F.flatten(
        F.transform(
            terms,
            lambda x, i: F.transform(
                F.slice(terms, i + 2, F.size(terms)),
                lambda y: F.struct(x.alias("ta"), y.alias("tb")),
            ),
        )
    )


def doc_pmi(
    docs: DataFrame,
    min_pair_count: int = 5,
    max_terms: int = 128,
) -> DataFrame:
    """(ta, tb, n_ab, df_a, df_b, pmi) for every term pair co-occurring
    in at least ``min_pair_count`` documents; pmi rounded to 6 decimals.

    Doc-level estimation: P(a) = df_a / N over documents, P(a,b) =
    n_ab / N over documents containing both — so
    pmi = ln(n_ab * N / (df_a * df_b)). Deterministic across engines
    (integer counts, one rounded ln).
    """
    base = docs.select(
        F.slice(
            F.array_sort(F.array_distinct(tokens(F.col("text")))),
            1,
            max_terms,
        ).alias("terms")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    # Singles and pairs ride ONE exploded stream through ONE aggregation:
    # separate df/pair frames would each re-plan the tokenize subtree
    # (no cross-consumer reuse in Spark), and joining pair counts back to
    # term counts would re-execute the aggregation once per join. Each
    # term is emitted in BOTH orientations — (t, NULL) and (NULL, t) — so
    # the per-term document frequency is visible to pair rows from a
    # window on either key: two aggregate-sized window exchanges, zero
    # joins, one corpus scan.
    #
    # Known bounded skew: the off-orientation singles share a NULL
    # partition key under each window, so each window has ONE partition
    # of exactly |vocabulary| short rows handled by a single task (a
    # simple running max; WindowExec spills if needed). That straggler is
    # vocabulary-sized, never pair- or corpus-sized. The alternatives
    # cost more: persisting `counts` caches the full pre-filter PAIR
    # table (can dwarf the vocabulary), and split-frame windows re-plan
    # the aggregation per consumer.
    singles = F.flatten(
        F.transform(
            F.col("terms"),
            lambda t: F.array(
                F.struct(t.alias("ta"), F.lit(None).cast("string").alias("tb")),
                F.struct(F.lit(None).cast("string").alias("ta"), t.alias("tb")),
            ),
        )
    )
    counts = (
        base.select(
            F.explode(F.concat(singles, pair_expr(F.col("terms")))).alias("p")
        )
        .select("p.ta", "p.tb")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    df_a = F.max(F.when(F.col("tb").isNull(), F.col("n_ab"))).over(
        Window.partitionBy("ta")
    )
    df_b = F.max(F.when(F.col("ta").isNull(), F.col("n_ab"))).over(
        Window.partitionBy("tb")
    )
    pairs = (
        counts.withColumn("df_a", df_a)
        .withColumn("df_b", df_b)
        .filter(
            F.col("ta").isNotNull()
            & F.col("tb").isNotNull()
            & (F.col("n_ab") >= min_pair_count)
        )
    )
    return (
        pairs.join(F.broadcast(n_docs))
        .select(
            "ta",
            "tb",
            "n_ab",
            "df_a",
            "df_b",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
