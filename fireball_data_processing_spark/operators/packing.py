"""Sequence packing: lay documents end-to-end into fixed-size token bins
(the concat-and-chunk packing used to build LM pretraining batches —
every bin is exactly ``max_tokens`` full except the shard's last, no
padding waste; documents may span bin boundaries).

Declarative formulation: one running token total per shard (a window
cumsum — ONE shuffle on the shard key), then pure integer math gives
every (document, bin) intersection: the bins a document touches are
``floor(start/max) .. floor((end-1)/max)``, exploded with ``sequence``.
No FSM, no Python — the packing that looks inherently sequential is
just arithmetic on the prefix sum, so it scales as a window aggregate
and stays deterministic (shard + ``order_col`` fix the layout).

The no-split variant (whole documents only, first-fit) is intentionally
NOT here: greedy bin-state is a genuine FSM; when needed, route it
through the same ``applyInPandas`` machinery as
``streaming/heuristics_stream.py``'s extractors. Concat-and-chunk is
what large-scale pretraining pipelines actually use for dense packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def token_count_col(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts zero (a
    ``split``-based count would say one — the empty string element)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("bigint")


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    shard_col: str,
    order_col: str,
    n_tokens: Column | str,
) -> DataFrame:
    """Per-shard concat-and-chunk packing plan: one output row per
    (document, bin) intersection —

    ``(shard_col, doc_id, bin_idx, tok_start, tok_end, offset_in_bin)``

    meaning: tokens ``[tok_start, tok_end)`` of the document land in bin
    ``bin_idx`` at offset ``offset_in_bin``. Zero-token documents are
    dropped (they occupy no bin space). Every bin except a shard's last
    is exactly ``max_tokens`` full — the materialization step downstream
    just sorts by (bin_idx, offset_in_bin) and concatenates slices.

    ``order_col`` must be unique per shard (it fixes the layout; pass a
    hash column for shuffled curriculum, the natural id for stable
    packing).
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    n = F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sized = docs.select(
        F.col(shard_col),
        F.col("doc_id"),
        n.alias("__n"),
    ).filter(F.col("__n") > 0)
    cum = sized.withColumn("__end", F.sum("__n").over(w)).withColumn(
        "__start", F.col("__end") - F.col("__n")
    )
    m = F.lit(max_tokens)
    first_bin = (F.col("__start") / m).cast("bigint")
    last_bin = ((F.col("__end") - 1) / m).cast("bigint")
    exploded = cum.select(
        shard_col,
        "doc_id",
        "__start",
        "__end",
        F.explode(F.sequence(first_bin, last_bin)).alias("bin_idx"),
    )
    bin_lo = F.col("bin_idx") * m
    return exploded.select(
        shard_col,
        "doc_id",
        "bin_idx",
        F.greatest(bin_lo - F.col("__start"), F.lit(0)).alias("tok_start"),
        (
            F.least(bin_lo + m, F.col("__end")) - F.col("__start")
        ).alias("tok_end"),
        F.greatest(F.col("__start") - bin_lo, F.lit(0)).alias(
            "offset_in_bin"
        ),
    )
