"""Bradley–Terry preference-strength fitting — the pairwise-comparison
ranking model behind reward-model / RLHF preference data curation
(Bradley & Terry 1952; the MM fit is Hunter 2004, "MM algorithms for
generalized Bradley-Terry models"). Given "A beat B" outcomes, the
model assigns each item a positive score s_i with
P(i beats j) = s_i / (s_i + s_j); the fixed point of the MM update

    s_i <- W_i / sum_j N_ij / (s_i + s_j)

(W_i = i's total wins, N_ij = comparisons between i and j) is the MLE.
A training-data pipeline uses exactly this shape to turn raw pairwise
preference labels into per-item quality scores / rankings (and to spot
annotator-inconsistent items whose fitted probability disagrees with
their observed win rate).

Scale shape: ONE distributed aggregation reduces the outcome stream to
the (winner, loser, n) comparison matrix — item²-bounded BY
CONSTRUCTION (items are event types / model variants / sources, never
corpus-cardinality) — and the MM iteration runs DRIVER-SIDE on the
collected matrix: the operators/raking.py bounded-model-state contract,
same as operators/markov.py's stationary fixed point and for the same
measured reason (a frame-resident loop pays seconds of stage launch per
query on sub-kilobyte joins at EVERY data scale). Determinism: every
iterate is rounded HALF_UP via ``spark_round`` (per-item denominators
summed in sorted-opponent order, normalization total in sorted-item
order — reassociation noise absorbed by the rounding, the cross-engine
oracle contract), so a SQL engine that unrolls the same iterations
replays the fit bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from fireball_data_processing_spark.functions.rounding import spark_round

__all__ = ["comparison_matrix", "bradley_terry_scores", "bt_ranking"]


def comparison_matrix(outcomes: DataFrame) -> DataFrame:
    """Reduce an outcome stream to the (winner, loser, n) matrix — the
    one distributed pass; everything after is item²-bounded."""
    return outcomes.groupBy(
        F.col("winner"), F.col("loser")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


def bradley_terry_scores(matrix: DataFrame, n_iter: int = 16) -> DataFrame:
    """Fit Bradley–Terry scores by ``n_iter`` MM updates from the
    uniform start, each iterate sum-normalized and rounded to
    8 dp (engine replay). ``matrix`` is the
    :func:`comparison_matrix` output, collected here (item²-bounded by
    contract). Returns ``(item, bt_score, n_wins, n_comparisons,
    rank)`` — rank 1 = strongest, (score DESC, item ASC) tie-break.

    Terms whose score pair rounded all the way to zero are skipped on
    BOTH sides (driver guard here, ``WHERE si.s + sj.s > 0`` in the
    oracle) — a degenerate-dominance edge that keeps the division
    total rather than engine-dependent."""
    item_type = matrix.schema["winner"].dataType
    out_schema = StructType(
        [
            StructField("item", item_type, True),
            StructField("bt_score", DoubleType(), True),
            StructField("n_wins", LongType(), True),
            StructField("n_comparisons", LongType(), True),
            StructField("rank", LongType(), True),
        ]
    )
    rows = [
        (r["winner"], r["loser"], int(r["n"]))
        for r in matrix.select("winner", "loser", "n").collect()
    ]
    items = sorted({w for w, _, _ in rows} | {l for _, l, _ in rows})
    if not items:
        return matrix.sparkSession.createDataFrame([], out_schema)
    wins = {i: 0 for i in items}
    nn: dict = {}  # symmetric comparison counts, keyed (i, j)
    for w, l, n in rows:
        wins[w] += n
        nn[(w, l)] = nn.get((w, l), 0) + n
        nn[(l, w)] = nn.get((l, w), 0) + n
    opponents = {i: sorted(j for (a, j) in nn if a == i) for i in items}
    start = spark_round(1.0 / len(items), 8)
    s = {i: start for i in items}
    for _ in range(n_iter):
        raw = {}
        for i in items:  # sorted-item, sorted-opponent order throughout
            den = 0.0
            for j in opponents[i]:
                sp = s[i] + s[j]
                if sp > 0:
                    den += nn[(i, j)] / sp
            raw[i] = wins[i] / den if den > 0 else s[i]
        total = sum(raw[i] for i in items)
        if total > 0:
            s = {i: spark_round(raw[i] / total, 8) for i in items}
        else:
            s = {i: spark_round(raw[i], 8) for i in items}
    ranked = sorted(items, key=lambda i: (-s[i], i))
    out = [
        (
            i,
            spark_round(s[i], 6),
            wins[i],
            sum(nn[(i, j)] for j in opponents[i]),
            ranked.index(i) + 1,
        )
        for i in items
    ]
    return matrix.sparkSession.createDataFrame(out, out_schema)


def bt_ranking(outcomes: DataFrame, n_iter: int = 16) -> DataFrame:
    """Convenience: outcome stream → comparison matrix → fitted
    ranking. The matrix has exactly ONE consumer (the bounded collect
    inside :func:`bradley_terry_scores`), so no pin/checkpoint — the
    aggregation runs once by construction."""
    return bradley_terry_scores(comparison_matrix(outcomes), n_iter=n_iter)
