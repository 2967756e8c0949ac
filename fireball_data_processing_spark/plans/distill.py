"""The distillation pipeline (SURVEY.md section 3.2) as composable
DataFrame transformations.

The reference runs five filesystem-coupled stages, each a process pool over
instance files, and stages 2/4 re-read the raw corpus (``distill2_authors.py:
96-98``, ``distill4_normalize.py:496-498``). Here each stage is a pure
``DataFrame -> DataFrame`` function over ONE shared scan; the pipeline is a
single DAG with no intermediate filesystem hops (checkpoint with
``df.write.parquet`` wherever debuggability wants it).

Stage 1 (``distill1_time_group.py``): anchor events (automation runs /
commands) collect nearby utterances — each utterance attaches to the
*nearest* anchor in event time (G8) and lands in its ``before`` or ``after``
side (G9); anchors with no utterances still form triples (G10/G11 drops
empty instances only at write time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.asof import with_nearest
from fireball_data_processing_spark.schema import StreamSchema


def assemble_triples(
    events: DataFrame,
    s: StreamSchema,
    utterance_predicate: Column,
    anchor_predicate: Column,
    payload_col: str,
    order_expr: Column | None = None,
) -> DataFrame:
    """distill1: one row per anchor with its before/after utterance stats
    and ordered payload lists.

    Output: (instance, anchor_id, n_before, n_after, before_payloads,
    after_payloads). Each row is role-tagged in place (anchor wins if both
    predicates match) and each utterance attaches to its nearest anchor
    (:func:`~..operators.asof.with_nearest`; among anchors tied on the
    order value, backward means the latest ``seq``, forward the earliest).
    One grouped aggregation with order-preserving ``sort_array``
    collection finishes the triple. The anchor's own row rides through
    the groupBy, so anchors with no utterances still emit (no join back,
    no second scan).

    Plan: ONE scan of the event stream, one hash exchange on the instance
    key, two sorts of each instance (the backward and the reversed
    forward order), each feeding a running window frame that costs O(1)
    per row, so the nearest anchor is O(n log n) per instance; the
    groupBy reuses the exchange.
    """
    inst = s.instance_col
    order_col = "__ord"
    ev = events.withColumn(order_col, order_expr if order_expr is not None else F.col(s.seq_col))

    base = (
        ev.withColumn(
            "__side",
            F.when(anchor_predicate, F.lit(0)).when(utterance_predicate, F.lit(1)),
        )
        .filter(F.col("__side").isNotNull())
        .select(
            F.col(inst),
            F.col(order_col),
            F.col("__side"),
            F.when(F.col("__side") == 0, F.col(s.seq_col)).alias("__a_id"),
            F.when(F.col("__side") == 1, F.col(payload_col)).alias("__payload"),
        )
    )
    # equidistant goes backward (reference distill1_time_group.py:48-52)
    tagged = (
        with_nearest(base, [inst], order_col, "__side", "__a_id")
        .withColumnRenamed("__near_key", "anchor_id")
        .withColumnRenamed("__near_ord", "__a_ord")
        .filter(F.col("anchor_id").isNotNull())
    )
    # before/after tagging (G9): an utterance later than (or tied with) its
    # anchor is 'after'; the anchor row itself counts on neither side
    is_b = (F.col("__side") == 1) & (F.col(order_col) < F.col("__a_ord"))
    is_a = (F.col("__side") == 1) & (F.col(order_col) >= F.col("__a_ord"))

    def _collect(cond):
        return F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(
                        cond,
                        F.struct(
                            F.col(order_col).alias("o"), F.col("__payload").alias("p")
                        ),
                    )
                )
            ),
            lambda x: x["p"],
        )

    per_anchor = tagged.groupBy(inst, "anchor_id").agg(
        F.count(F.when(is_b, 1)).alias("n_before"),
        F.count(F.when(is_a, 1)).alias("n_after"),
        _collect(is_b).alias("__bp"),
        _collect(is_a).alias("__ap"),
    )
    # preserve the left-join-era contract: payload arrays are NULL (not
    # empty) exactly when the anchor matched no utterances at all
    has_utts = (F.col("n_before") + F.col("n_after")) > 0
    return per_anchor.select(
        F.col(inst),
        "anchor_id",
        "n_before",
        "n_after",
        F.when(has_utts, F.col("__bp")).alias("before_payloads"),
        F.when(has_utts, F.col("__ap")).alias("after_payloads"),
    )


def author_filter(triples: DataFrame, allowed_authors: Column) -> DataFrame:
    """distill2 (reference distill2_authors.py:61-64): keep only
    before/after utterances authored by the command author or a DM.
    ``allowed_authors`` is an array column of permitted author ids. It is
    evaluated once per row into a scratch column that the filters read:
    referenced inside the lambda, an expression such as
    ``array(cmd_author, dm)`` is rebuilt once per array element."""
    allowed = "__allowed_authors"
    keep = lambda col: F.filter(  # noqa: E731
        F.col(col), lambda m: F.array_contains(F.col(allowed), m["author_id"])
    )
    return (
        triples.withColumn(allowed, allowed_authors)
        .withColumn("before_payloads", keep("before_payloads"))
        .withColumn("after_payloads", keep("after_payloads"))
        .drop(allowed)
    )


def ic_regex_stage(
    df: DataFrame, text_col: str
) -> DataFrame:
    """distill3a (reference distill3a_ic_regex.py:34-62): strip
    parenthetical asides, drop rows left blank."""
    from fireball_data_processing_spark.functions.text import strip_parentheticals

    out = df.withColumn(text_col, strip_parentheticals(F.col(text_col)))
    return out.filter(F.trim(F.col(text_col)) != "")
