"""Score propagation over the near-duplicate graph (iterative label
propagation), the curation signal the per-document gates can't see: a
document whose near-duplicates are low-quality is itself suspect, even
when its own surface statistics pass — template spam and boilerplate
farms present exactly this way (many mutually-similar documents, each
individually unremarkable). Propagating a quality prior through the LSH
candidate graph blends each document's own score with its duplicate
neighborhood's.

Extends the reference's per-document heuristics (which never relate
documents to each other) with the graph smoothing step; the graph itself
comes from the engine's existing MinHash/LSH candidate generation
(operators/dedup.py), so no new similarity machinery.

Scale design:

- **Edges are LSH candidates, not all pairs**: the graph is bounded by
  band-bucket collisions (the near-dedup scale path), never |V|^2.
- **Per iteration: two key-hash shuffles** — join scores to edge
  destinations (shuffle by id), average per source (shuffle by id again,
  with map-side partial combine) — then a join back to the node frame on
  the same id key, which AQE plans as a reuse of the existing hash
  partitioning. Iteration count is a small constant (smoothing, not
  convergence — 2 hops reaches the neighborhood-of-neighborhood).
- **Cross-engine reproducibility**: every iteration rounds the updated
  score to ``round_dp`` decimals (the kmeans contract — see
  operators/clustering.py), absorbing neighbor-sum reassociation noise,
  so an unrolled SQL oracle replays the iterations exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["graph_triangle_stats", "propagate_scores"]


def propagate_scores(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score0",
    alpha: float = 0.5,
    n_iter: int = 2,
) -> DataFrame:
    """Iterate ``s_{t+1}(v) = round(alpha * s_0(v) + (1 - alpha) *
    avg_{u ~ v} s_t(u) + 1e-9, 6)`` for ``n_iter`` rounds over the
    undirected graph given by ``edges`` (one ``(id_a, id_b)`` row per
    pair; symmetrized here). Nodes with no neighbors keep their prior:
    the neighbor term coalesces to the node's own previous score, which
    for an isolated node is invariantly ``s_0``. Returns
    ``(id_col, score0, score)``.

    The 1e-9 tie nudge is the cross-engine contract: with alpha=0.5 over
    rounded inputs the update lands exactly on 6-decimal rounding ties,
    where Spark's shortest-decimal HALF_UP and a binary-exact engine
    disagree per row — the nudge resolves every tie upward on BOTH sides
    and its bias is 3 orders below the output resolution.
    """
    # the edge frame feeds one join per iteration and the node frame
    # feeds two consumers per iteration (the neighbor aggregate and the
    # join-back) — persist both, or every iteration re-plans the full
    # upstream subtree (LSH candidate generation!) per consumer and the
    # static plan grows combinatorially (the near_dup_pairs lesson).
    # Caches are invocation-scoped: edges are candidate-pair-bounded,
    # the node frame is (id, two doubles).
    sym = edges.select(
        F.col("id_a").alias("__src"), F.col("id_b").alias("__dst")
    )
    sym = sym.union(
        sym.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst"))
    ).persist()
    s = nodes.select(
        F.col(id_col),
        F.col(score_col).cast("double").alias("__s0"),
        F.col(score_col).cast("double").alias("__s"),
    )
    for _ in range(n_iter):
        nbr = (
            sym.join(
                s.select(
                    F.col(id_col).alias("__dst"), F.col("__s").alias("__ns")
                ),
                "__dst",
            )
            .groupBy("__src")
            # round the neighbor average BEFORE the update: the avg is
            # summation-order-sensitive in its last ulp, and at 10x data
            # (sf0.1: 33/5000 rows) enough rows land on .5-ulp 6-dp
            # boundaries to flip the final round between engines; an
            # 8-dp intermediate round hands both engines identical
            # doubles, shrinking the boundary set ~100x below the
            # contract's observable resolution
            .agg(F.round(F.avg("__ns"), 8).alias("__avg"))
        )
        s = (
            s.join(nbr, s[id_col] == nbr["__src"], "left")
            .select(
                F.col(id_col),
                F.col("__s0"),
                # +1e-9 tie-nudge (the setjoin FP-ceil precedent): with
                # alpha = 0.5 over rounded inputs the update lands
                # EXACTLY on 6-dp rounding ties, where Spark (rounds the
                # shortest decimal repr, HALF_UP) and a binary-exact
                # engine disagree per row (observed 8/5000 at sf0.1);
                # the same nudge on both sides resolves every tie upward
                F.round(
                    F.lit(alpha) * F.col("__s0")
                    + F.lit(1.0 - alpha)
                    * F.coalesce(F.col("__avg"), F.col("__s"))
                    + F.lit(1e-9),
                    6,
                ).alias("__s"),
            )
            .persist()
        )
    return s.select(
        F.col(id_col),
        F.col("__s0").alias("score0"),
        F.col("__s").alias("score"),
    )


def graph_triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph — ONE row
    ``(n_vertices, n_edges, n_wedges, n_triangles, transitivity)`` with
    transitivity = 3T / W (the global clustering coefficient). On the
    near-dup candidate graph this separates CHAINS (A~B~C where A and C
    merely share a neighbor — transitivity low, clusters are fragile
    unions) from CLIQUES (template families where everything matches
    everything — transitivity high), which tells a dedup pipeline
    whether connected components over-merge.

    Scale shape — the standard oriented-triangle join (Suri & Vassilvitskii
    2011's input for the compact-forward algorithm): edges are kept
    ORIENTED low-id -> high-id (one row per undirected edge), so each
    triangle a<b<c is counted exactly once as (a,b)+(b,c)+(a,c): two
    hash-join shuffles on vertex keys. Wedges come from the degree table
    alone (sum of d*(d-1)/2 — no join). The orientation bounds the join
    fan-out by the out-degree; production graphs with power-law hubs
    re-orient by (degree, id) order, which caps out-degree at O(sqrt(m))
    — the id orientation here matches the oracle's replay exactly and
    the LSH candidate graph is band-bounded, not power-law.
    """
    # orient every input row low->high (accepts either direction) and
    # dedup; self-loops drop. Persisted: consumed by the degree table,
    # the edge count, and all three legs of the triangle join.
    e = (
        edges.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
        .persist()
    )
    ecount = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    base = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.round(F.sum(F.col("d") * (F.col("d") - 1) / 2), 0)
        .cast("bigint")
        .alias("n_wedges"),
    )
    wedge = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(F.col("e1.a").alias("__wa"), F.col("e2.b").alias("__wc"))
    tri = (
        wedge.join(
            e.alias("e3"),
            (F.col("__wa") == F.col("e3.a"))
            & (F.col("__wc") == F.col("e3.b")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        base.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ecount))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0)
                * F.col("n_triangles")
                / F.when(F.col("n_wedges") > 0, F.col("n_wedges")),
                6,
            ).alias("transitivity"),
        )
    )
