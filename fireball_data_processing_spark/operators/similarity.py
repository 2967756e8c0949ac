"""Similarity search over embedding columns (array<float>).

The retrieval ladder, cheapest-candidates first:

- **brute-force cosine top-k** — exact; JVM-side dot products via
  ``F.aggregate``/``F.zip_with`` (no Python in the loop). The baseline and
  the LABELED VERIFIER for every approximate variant. Cost is |Q| x |N|;
  fine for moderate query sets, not for all-pairs at 100 TB.
- **IVF top-k** (``build_ivf_index``/``ivf_query``) — MLlib-KMeans coarse
  cells, path-backed partition pruning for the probe filter.
- **JL sketch family**: ``rp_sketch_expr`` shrinks vectors
  through an md5-derived Achlioptas matrix (engine-replayable, unlike
  seeded RNG); ``rp_ann_topk`` is sketch-shortlist-then-exact-rerank with
  the query side broadcast and the corpus streamed; ``rp_ivf_topk`` trains
  the coarse quantizer IN sketch space over the replayable k-means —
  cell-bounded candidates, exact full-dim rerank, fully oracle-checked.
- **Selection layers on top**: ``semantic_dedup`` (SemDeDup survivors per
  bucket/cluster), ``mmr_rerank`` (diversity-aware rerank), and
  ``hard_negative_topk`` (near-dup band excluded, then most-similar —
  contrastive-training mining).
- **Memory side**: ``quantize_embedding`` int8 scalar quantization.

At scale: bucket/cluster the corpus once (write partitioned by signature
or cell), then a query touches only its probe partitions — partition
pruning does the rest; sketches are what cross the wire.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# SQL-text expression builders (the O(1)-py4j plan-construction path;
# see the clustering module's fast-path note). Leaf helpers only — the
# heavier clustering operators stay function-local imports.
from fireball_data_processing_spark.operators.clustering import (
    _cast_vec_sql,
    _dist2_sql,
    _double_sql,
    _ident_sql,
    _vec_sql,
    nearest_centroid_sql,
    nearest_centroids_sql,
)
from pyspark.sql.window import Window, WindowSpec


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float arrays, dimension-agnostic.

    Elements are cast to double BEFORE the multiply: float32*float32
    rounds the product to float32, which both loses precision and
    diverges from any engine that promotes first.

    Higher-order functions run on Catalyst's INTERPRETED path (never
    whole-stage codegen), so in per-pair hot loops (n^2 similarity)
    hoist everything hoistable OUT of the pair expression (precompute
    norms per vector — see ``embedding_near_dup_pairs``). Measured
    dead end: unrolling the fold into a static sum of 64 ``element_at``
    products was ~2x SLOWER than this fold at sf0.1 (the giant
    expression spills out of codegen's method limits and the per-term
    null-checked fallback loses to the tight interpreted fold).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def padded_dot(a: Column, b: Column) -> Column:
    """``dot`` variant for possibly length-mismatched arrays: a missing
    element on either side contributes 0 instead of an ANSI
    out-of-bounds/null product. Fold order matches ``dot`` —
    ((0 + a0*b0) + a1*b1)… — which is a documented parity contract."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.coalesce(x.cast("double") * y.cast("double"), F.lit(0.0))
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself). Returns (query_id, neighbor_id, cosine_sim,
    rank). Ranking uses the rounded similarity with id tiebreak so results
    are deterministic.

    Norms are HOISTED to the per-row projections (the
    ``embedding_near_dup_pairs`` lesson): the |Q| x |N| pair expression
    is one dot-product fold instead of three — same float values (the
    norm expression is identical, just evaluated once per row), so the
    rounded similarities and every oracle are unchanged. Measured 1.6x
    end-to-end at 128k corpus vectors (5.2-5.5 -> 3.3-3.6 s, stable
    across interleaved A/B runs)."""
    q, c, sim = _normed_sides(queries, corpus)
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    return _cosine_topk(q.crossJoin(F.broadcast(c)), sim, k)


def _normed_sides(
    queries: DataFrame, corpus: DataFrame
) -> tuple[DataFrame, DataFrame, Column]:
    """The two sides of an exact cosine contact with each norm hoisted to
    a per-row column — ``(query_id, __qv, __qn)`` and
    ``(neighbor_id, __cv, __cn)`` — and the unrounded pair cosine over
    them."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        norm(F.col("embedding")).alias("__qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        norm(F.col("embedding")).alias("__cn"),
    )
    sim = dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
    return q, c, sim


def _cosine_rank_window() -> WindowSpec:
    """Per query, by ``cosine_sim`` descending, ``neighbor_id`` breaking
    ties."""
    return Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )


def _cosine_topk(pairs: DataFrame, sim: Column, k: int) -> DataFrame:
    """``(query_id, neighbor_id, cosine_sim, rank)``: the ``k`` best
    non-self neighbours of each query among the candidate ``pairs``,
    scored by ``sim``."""
    scored = (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(_cosine_rank_window()))
        .filter(F.col("rank") <= k)
    )


def _matrix_literal(matrix: list[list[float]]) -> Column:
    """A matrix as ONE ``array<array<double>>`` literal.

    Built from a single parsed expression string: O(1) py4j calls at plan
    build (vs one Column per component), and Catalyst constant-folds the
    parsed CreateArray tree into a single Literal before codegen — so the
    compiled plan does not grow with embedding dim. ``repr(float)`` is the
    shortest round-trip decimal, which Java parses back to the same double.
    """
    body = ",".join(
        "array(" + ",".join(repr(x) + "D" for x in row) + ")" for row in matrix
    )
    return F.expr("array(" + body + ")")


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality: column metadata ``{"dim": N}`` when the
    producer attached it (zero-cost, fully lazy), else a one-row peek — an
    EAGER job, refused on streaming frames where it cannot run. Callers who
    need full laziness pass ``dim=`` explicitly."""
    meta = df.schema[vec_col].metadata or {}
    if "dim" in meta:
        return int(meta["dim"])
    if df.isStreaming:
        raise ValueError(
            f"cannot peek a streaming DataFrame to infer the dimension of "
            f"{vec_col!r}; pass dim= explicitly (or attach {{'dim': N}} "
            f"column metadata at the source)"
        )
    first = df.select(F.size(F.col(vec_col)).alias("n")).first()
    if first is None or first["n"] is None:
        raise ValueError("cannot infer embedding dim from an empty input; pass dim=")
    return first["n"]


def _validate_dim(df: DataFrame, vec_col: str, dim: int) -> int:
    """Cross-check a caller-supplied ``dim`` against the data before a fit
    uses it to slice subvectors. A wrong-but-divisible dim would silently
    train PQ codebooks on mis-sliced subvectors (null/garbage distances
    downstream, no error) — the hazard ``_check_pq_dims`` guards the
    ENCODE path against, which a threaded fit dim would otherwise bypass.

    Zero-cost when the column carries ``{"dim": N}`` metadata; otherwise
    one tiny peek job (``select size(vec) limit 1`` — negligible next to
    the fit's own Lloyd collects). Streaming frames can't be peeked, so a
    metadata-less streaming dim is trusted as documented on the fit APIs."""
    meta = df.schema[vec_col].metadata or {}
    actual = None
    if "dim" in meta:
        actual = int(meta["dim"])
    elif not df.isStreaming:
        first = df.select(F.size(F.col(vec_col)).alias("n")).first()
        if first is not None and first["n"] is not None:
            actual = int(first["n"])
    if actual is not None and actual != dim:
        raise ValueError(
            f"dim={dim} does not match the actual {vec_col!r} array "
            f"length {actual}; a wrong-but-divisible dim would silently "
            f"mis-slice PQ subvectors"
        )
    return dim


class IvfIndex(NamedTuple):
    """A built IVF index: tiny driver-side centroid matrix + the assigned
    corpus (``neighbor_id``, ``__cv``, ``cell``). When ``path``-backed, the
    assignment table is parquet partitioned by ``cell`` so probe selection
    becomes partition pruning at read time."""

    centroids: list[list[float]]
    assigned: DataFrame


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    path: str | None = None,
    fit: str = "mllib",
    n_iter: int = 2,
) -> IvfIndex:
    """IVF build phase — run ONCE per corpus, amortized over all queries.

    ``fit="mllib"`` (default): one MLlib KMeans job clusters the corpus
    (kmeans|| init, seed 42) and ``model.transform`` assigns
    each vector to its nearest centroid's cell — the production path
    when the coarse quantizer should come from the battle-tested
    scalable fit.

    ``fit="replay"``: the house deterministic Lloyd fit
    (``operators/clustering.kmeans_fit`` — k-lowest-id seeding, 6-dp
    centroid rounding per round, ``n_iter`` rounds) trains the coarse
    quantizer and a centroid-literal pure expression assigns cells —
    plan-identical query phase, but every build artifact is an
    engine-replayable function of the data, so a SQL oracle can replay
    build + probe + rerank end to end (the ``rp_ivf_topk`` recipe at
    full dimension). Same 100 TB shape either way: assignment is a
    projection over the corpus scan; only the fit differs.

    With ``path`` set, assignments are written as parquet partitioned by
    ``cell`` and re-read, so ``ivf_query``'s probe filter prunes whole
    partitions (PartitionFilters in the scan) instead of scanning the
    corpus. Centroids (n_centroids x dim doubles) stay on the driver —
    tiny at any realistic setting.
    """
    if fit == "replay":
        from fireball_data_processing_spark.operators.clustering import (
            kmeans_fit,
            nearest_centroid_expr,
        )

        base = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cv"),
            F.col("embedding").cast("array<double>").alias("__fv"),
        )
        _, cents = kmeans_fit(
            base, k=n_centroids, n_iter=n_iter, vec_col="__fv",
            id_col="neighbor_id",
        )
        assigned = base.select(
            "neighbor_id",
            "__cv",
            nearest_centroid_expr(cents, "`__fv`")["cid"].alias("cell"),
        )
        centroids = [
            [float(x) for x in v] for _, v in sorted(cents)
        ]  # position == cid: ivf_query's probe indexes the literal by cell
    elif fit == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        c = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cv"),
            array_to_vector(F.col("embedding")).alias("features"),
        )
        km = KMeans(k=n_centroids, seed=42, featuresCol="features",
                    predictionCol="cell")
        model = km.fit(c)
        centroids = [list(map(float, ctr)) for ctr in model.clusterCenters()]
        assigned = model.transform(c).select("neighbor_id", "__cv", "cell")
    else:
        raise ValueError(f"fit must be 'mllib' or 'replay', got {fit!r}")
    if path is not None:
        assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
        assigned = corpus.sparkSession.read.parquet(path)
    return IvfIndex(centroids=centroids, assigned=assigned)


def ivf_query(
    index: IvfIndex,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
) -> DataFrame:
    """IVF query phase: each query scans only its ``n_probe`` nearest cells
    of a prebuilt index — no clustering work here.

    Probe-cell selection runs one tiny job over the query batch (its result
    is at most ``n_centroids`` distinct ints), and the resulting static
    ``cell IN (...)`` filter reaches the parquet scan as PartitionFilters
    when the index is path-backed — the corpus outside the probed cells is
    never read. The centroid matrix enters the plan as one literal
    (:func:`_matrix_literal`, constant plan size in the dim).

    The query batch is persisted before that probe job: the plan executes
    twice (once for the probe-cell collect, once in the candidate join), and
    without pinning, a non-deterministic ``queries`` plan (sample, unordered
    limit, generated ids) could probe one set of cells and join another —
    silently dropping candidates. The cache is query-batch-sized (small by
    contract); callers looping over many batches may ``.unpersist()`` the
    returned frame's input when done.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    cents = _matrix_literal(index.centroids)
    qv = F.col("__qv")
    dists = F.transform(
        cents,
        lambda ctr, i: F.struct(
            padded_dot(qv, ctr).alias("sim"),
            i.alias("cell"),
        ),
    )
    probe = F.slice(F.reverse(F.array_sort(dists)), 1, n_probe)
    q = q.withColumn("cells", F.transform(probe, lambda s: s["cell"])).persist()

    # static probe set for partition pruning: bounded by n_centroids values.
    # This collect also materializes the persisted q, so the join below sees
    # the SAME rows even if `queries` is non-deterministic.
    probe_cells = sorted(
        r["c"]
        for r in q.select(F.explode("cells").alias("c")).distinct().collect()
    )
    assigned = index.assigned.filter(F.col("cell").isin(probe_cells))

    qq = q.select("query_id", "__qv", F.explode("cells").alias("cell"))
    sim = cosine(F.col("__qv"), F.col("__cv"))
    sim = F.round(sim, 6)
    return _cosine_topk(qq.join(assigned, "cell"), sim, k)


# ---------------------------------------------------------------------
# scalar quantization (the ANN memory-compression path)
# ---------------------------------------------------------------------


def quantize_embedding(vec: Column) -> dict[str, Column]:
    """Per-vector min/max scalar quantization to 256 integer codes
    (0..255, i.e. uint8 storage) — the standard 4x memory
    compression for embedding indexes; IVF/LSH bucket keys are unaffected
    and exact re-rank can dequantize in place.

    ``code_i = round((x_i - vmin) / scale)`` with
    ``scale = (vmax - vmin) / 255``; constant vectors (scale 0) map to
    all-zero codes. Everything is per-row ``transform``/``aggregate`` array
    math in whole-stage codegen — no UDF, no shuffle. All arithmetic is
    double-precision (inputs cast up front) so codes are bit-identical
    across engines.

    Returns columns: ``codes`` (array<int>), ``vmin``/``vmax`` (double),
    and ``mse`` (mean squared reconstruction error; theory bounds max
    per-element error by ``scale/2``, asserted by the property test).
    """
    v = F.transform(vec, lambda x: x.cast("double"))
    vmin = F.array_min(v)
    vmax = F.array_max(v)
    scale = (vmax - vmin) / F.lit(255.0)
    codes = F.transform(
        v,
        lambda x: F.when(scale > 0, F.round((x - vmin) / scale, 0))
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    # reconstruction x_hat = vmin + code*scale, squared-error fold over
    # (value, code) pairs; n>0 guarded by the caller's schema (empty vec -> null)
    sq_err = F.zip_with(
        v,
        codes,
        lambda x, q: F.pow(x - (vmin + q.cast("double") * scale), F.lit(2.0)),
    )
    n = F.size(v)
    mse = F.when(
        n > 0,
        F.aggregate(sq_err, F.lit(0.0), lambda a, x: a + x) / n.cast("double"),
    )
    return {"codes": codes, "vmin": vmin, "vmax": vmax, "mse": mse}


def sign_bucket(vec: Column) -> Column:
    """Deterministic hyperplane bucket for semantic dedup.

    Bit ``i`` (0-based) is 1 iff ``vec[i+1] >= vec[i+9]`` (1-based
    element access) — i.e. the sign of the dot product with the
    axis-pair hyperplane ``e_i - e_{i+8}``. For embeddings with
    roughly isotropic coordinates this behaves like random-hyperplane
    LSH (near-identical vectors agree on every bit), while staying pure
    arithmetic that any engine reproduces exactly (oracle-checked
    dedup).
    """
    bit = lambda i: F.when(
        F.element_at(vec, i + 1).cast("double")
        >= F.element_at(vec, i + 9).cast("double"),
        F.lit(1),
    ).otherwise(F.lit(0))
    out = F.lit(0)
    for i in range(8):
        out = out + bit(i) * F.lit(1 << i)
    return out


def semantic_dedup(
    embeddings: DataFrame,
    tau: float = 0.9,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication, Spark-first.

    Partition the corpus into hyperplane buckets (:func:`sign_bucket`),
    elect the min-id row of each bucket as its representative, and drop
    every other member whose cosine to the representative exceeds
    ``tau``. Returns the survivors: ``(id, bucket, cos_to_rep)`` where
    the representative's cosine is 1.0 by construction (reported as
    null for the rep to keep the column honest when the rep's norm is
    0).

    Plan shape: ONE exchange. The representative's id and vector are
    both whole-partition window aggregates (``min`` / ``min_by``) over
    the bucket key, so rep election and member comparison ride the same
    hash partitioning — no join, no second shuffle, no driver collect.
    At 100 TB the bucket count (2^8 here) is chosen so a bucket fits a
    task comfortably; skewed buckets degrade gracefully (the window is
    an aggregate, not a sort).

    This trades recall for determinism/cost exactly like published
    SemDeDup (one representative per cluster, single cosine test);
    the DEFAULT cluster family is fixed hyperplanes rather than k-means,
    which keeps the zero-extra-pass form engine-reproducible (DuckDB
    oracle). Pass ``bucket_expr`` to substitute any other deterministic
    partition — in particular
    :func:`..clustering.nearest_centroid_expr` over fitted k-means
    centroids gives the PAPER-FAITHFUL SemDeDup (Abbas et al. 2023
    cluster with k-means first), still as a pure projection feeding the
    same single-exchange window, and still oracle-replayable because the
    k-means fit itself is (see operators/clustering.py).
    """
    bucket = (
        bucket_expr
        if bucket_expr is not None
        else sign_bucket(F.col("embedding"))
    )
    b = embeddings.withColumn("bucket", bucket)
    w = Window.partitionBy("bucket")
    rep_id = F.min("vec_id").over(w)
    rep_vec = F.expr("min_by(embedding, vec_id)").over(w)
    cos = cosine(F.col("embedding"), rep_vec)
    scored = b.select(
        F.col("vec_id"),
        F.col("bucket"),
        rep_id.alias("__rep_id"),
        F.round(cos, 6).alias("cos_to_rep"),
    )
    is_rep = F.col("vec_id") == F.col("__rep_id")
    return scored.filter(is_rep | (F.col("cos_to_rep") <= tau)).select(
        "vec_id",
        "bucket",
        F.when(~is_rep, F.col("cos_to_rep")).alias("cos_to_rep"),
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) —
    the diversity-aware selection stage after any top-k retrieval: pick
    ``k`` results greedily by

        argmax  lam * relevance - (1 - lam) * max cosine(x, selected)

    so near-duplicate hits don't crowd the result list. The canonical
    consumer of this engine's dedup-aware retrieval stack: feed it
    ``brute_force_topk``/``ivf_query``/``bm25_search`` candidates joined
    to their vectors.

    Greedy selection is inherently sequential PER QUERY but embarrassingly
    parallel ACROSS queries, and the per-query candidate list is top-k
    sized — exactly the sanctioned ``applyInPandas`` shape (one Arrow
    batch per query group, numpy inside, never a corpus-sized collect).
    Ties break on ascending id (deterministic, engine-independent).

    The greedy trajectory is ENGINE-REPLAYABLE, the k-means-replay
    recipe applied to greedy selection: the pairwise candidate
    similarities and each step's marginal score are rounded HALF_UP
    (``functions.rounding.spark_round`` — Spark's own double-round
    semantics) BEFORE the argmax, so every
    pick is a pure function of rounded decimals and a SQL engine that
    unrolls the k steps (round → argmax with id tie-break → accumulate
    max-sim penalty) reproduces the selection bit-for-bit — rounding at
    every step is what absorbs the engines' float-summation-order noise
    before it can cascade through later picks.

    Output: ``(query_id, neighbor_id, mmr_rank, relevance, mmr_score)``;
    ``mmr_score`` of the first pick is ``lam * relevance`` (nothing
    selected yet to repel from).
    """
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("doc_id", LongType()),
            StructField("mmr_rank", LongType()),
            StructField("relevance", DoubleType()),
            StructField("mmr_score", DoubleType()),
        ]
    )

    from fireball_data_processing_spark.functions.rounding import spark_round

    def _rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        def _vround(a: "np.ndarray", dp: int) -> "np.ndarray":
            # HALF_UP per element (candidate-list-sized, <= shortlist^2);
            # +-inf pass through: already-selected slots carry -inf mmr
            # (and +inf penalty) as exclusion sentinels, not values
            out = np.array(
                [
                    spark_round(float(x), dp) if math.isfinite(x) else float(x)
                    for x in a.ravel()
                ],
                dtype=float,
            )
            return out.reshape(a.shape)

        pdf = pdf.sort_values("__id", ignore_index=True)
        vecs = np.stack(pdf["__vec"].to_numpy())
        # Replayable pair sims: the exact op sequence of the SQL
        # cosine — sequential left-to-right folds (list_sum ~ the
        # engines' fold), then dot / (norm_a * norm_b), then HALF_UP
        # round. BLAS (unit @ unit.T) sums pairwise, which differs in
        # the last ulp and flips 6-dp boundaries often enough to
        # break a greedy replay (observed at sf0.1); candidate lists
        # are shortlist-sized, so the pure-Python folds are cheap.
        lists = [[float(x) for x in v] for v in vecs.tolist()]

        def _fold(a: list, b: list) -> float:
            s = 0.0
            for x, y in zip(a, b):
                s += x * y
            return s

        nrm = [math.sqrt(_fold(v, v)) or 1.0 for v in lists]
        m_ = len(lists)
        sims = np.empty((m_, m_))
        for i_ in range(m_):
            for j_ in range(i_, m_):
                s_ = spark_round(
                    _fold(lists[i_], lists[j_]) / (nrm[i_] * nrm[j_]),
                    6,
                )
                sims[i_, j_] = sims[j_, i_] = s_
        rel = pdf["__score"].to_numpy().astype(float)
        n = len(pdf)
        selected: list[int] = []
        max_sim = np.full(n, -np.inf)
        rows = []
        for rank in range(1, min(k, n) + 1):
            if selected:
                penalty = max_sim
            else:
                penalty = np.zeros(n)
            mmr = lam * rel - (1 - lam) * penalty
            # round BEFORE the argmax so the pick itself — not just
            # the reported score — is a function of rounded decimals
            key = _vround(mmr, 6)
            key[selected] = -np.inf
            # argmax with ascending-id tiebreak: ids are sorted, so the
            # first max index is the smallest id among ties
            pick = int(np.argmax(key))  # never a selected slot: key[selected] = -inf
            score = key[pick]
            rows.append(
                (
                    int(pdf["__q"].iloc[0]),
                    int(pdf["__id"].iloc[pick]),
                    rank,
                    float(rel[pick]),
                    float(score),
                )
            )
            selected.append(pick)
            max_sim = np.maximum(max_sim, sims[pick])
            max_sim[selected] = np.inf  # never re-picked anyway
        return pd.DataFrame(
            rows, columns=["query_id", "doc_id", "mmr_rank", "relevance", "mmr_score"]
        )

    prepped = candidates.select(
        F.col("query_id").cast("long").alias("__q"),
        F.col("neighbor_id").cast("long").alias("__id"),
        F.col("cosine_sim").cast("double").alias("__score"),
        F.col("embedding").alias("__vec"),
    )
    out = prepped.groupBy("__q").applyInPandas(_rerank, out_schema)
    return (
        out.withColumnRenamed("doc_id", "neighbor_id")
        .withColumn("relevance", F.round("relevance", 6))
        .withColumn("mmr_score", F.round("mmr_score", 6))
    )


# ---------------------------------------------------------------------
# random-projection sketch (JL dimensionality reduction, the compute
# complement to the memory-side scalar quantization above)
# ---------------------------------------------------------------------


def rp_sign_matrix(in_dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic ±1 projection matrix from md5 parity:
    ``sign(j, i) = +1 iff the first hex digit of md5(f"{j}#{i}") is
    even``. Achlioptas (2001) showed ±1 entries satisfy the JL lemma as
    well as Gaussians; deriving them from md5 (instead of a seeded RNG)
    makes the matrix a PUBLIC function of (j, i) that any engine —
    including the DuckDB oracle — reproduces bit-exactly, the same
    portability rule as every hash in this package."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}#{i}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def rp_sketch_components(df: DataFrame, out_dim: int = 16) -> DataFrame:
    """Johnson-Lindenstrauss sketch of every embedding, LONG format:
    ``(vec_id, dim_idx, component)`` with
    ``component = <vec, sign_row_j> / sqrt(out_dim)`` — the
    dimensionality-reduction step that cuts ANN compute/memory by
    ``in_dim/out_dim`` while approximately preserving angles (the JL
    guarantee; the angle-preservation property is test-pinned). Rows
    with a higher-dim consumer should pivot back to an array; the long
    form is emitted so cross-engine value comparison needs no
    array-equality semantics.

    Plan: pure projection + one explode — the sign matrix enters as a
    literal (out_dim x in_dim doubles), each component is one
    sequential-fold dot product evaluated once, zero exchanges. Sketch,
    THEN ship: at 100 TB the sketch is what crosses the wire to the ANN
    index, not the raw vectors."""
    comps = rp_sketch_expr(
        _ident_sql("embedding"), _infer_dim(df, "embedding"), out_dim
    )
    return df.select(
        F.col("vec_id"), F.posexplode(comps).alias("dim_idx", "component")
    )


def rp_sketch_sql(
    vec_sql: str, in_dim: int, out_dim: int, round_dp: int = 6
) -> str:
    """Text twin of :func:`rp_sketch_expr` over a SQL fragment — the
    whole sketch (sign-matrix literal + ``out_dim`` sequential-fold dot
    products) renders as ONE parseable string, so plan construction is
    O(1) py4j calls instead of one round-trip per lambda node (the
    ``_matrix_literal`` idiom extended to the full expression). The
    input is bound once per row (``rs_v``), exactly like the Column
    builder's single evaluation of ``vec``."""
    import math

    signs = rp_sign_matrix(in_dim, out_dim)
    # _double_sql / _vec_sql, not raw repr: all text-path doubles share
    # the one validated renderer, so a non-finite value leaking into the
    # matrix raises the builders' documented ValueError instead of
    # splicing unparseable SQL (harmless while signs are strictly ±1,
    # load-bearing the day a non-sign projection matrix lands here).
    scale = _double_sql(math.sqrt(float(out_dim)))
    signs_sql = "array(" + ",".join(_vec_sql(row) for row in signs) + ")"
    comps = ",".join(
        f"round(aggregate(zip_with(rs_v,element_at(rs_m,{j + 1}),"
        f"(x,s)->x*s),0.0D,(acc,vv)->acc+vv)/{scale},{int(round_dp)})"
        for j in range(out_dim)
    )
    return (
        f"element_at(transform(array(cast(({vec_sql}) as array<double>)),"
        f"rs_v->element_at(transform(array({signs_sql}),"
        f"rs_m->array({comps})),1)),1)"
    )


def rp_sketch_expr(
    vec: Column | str, in_dim: int, out_dim: int, round_dp: int = 6
) -> Column:
    """The sketch as a reusable ``array<double>`` COLUMN EXPRESSION —
    one parsed array<array<double>> literal (:func:`_matrix_literal`:
    O(1) py4j calls, constant-folded before codegen); each component
    indexes its row out of the constant and is one sequential-fold dot
    product. A SQL fragment string input builds the WHOLE expression as
    text (:func:`rp_sketch_sql`) — value-identical, parity-tested."""
    import math

    if isinstance(vec, str):
        return F.expr(rp_sketch_sql(vec, in_dim, out_dim, round_dp))
    signs_lit = _matrix_literal(rp_sign_matrix(in_dim, out_dim))
    v = vec.cast("array<double>")
    return F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.element_at(signs_lit, j + 1),
                        lambda x, s: x * s,
                    ),
                    F.lit(0.0),
                    lambda acc, vv: acc + vv,
                )
                / F.lit(math.sqrt(float(out_dim))),
                round_dp,
            )
            for j in range(out_dim)
        ]
    )


def rp_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    out_dim: int = 16,
) -> DataFrame:
    """Two-stage ANN over the JL sketch — retrieve-then-rerank, the
    shape every production vector store uses: stage 1 scores the CHEAP
    16-dim sketch cosine against the whole corpus and keeps a
    ``shortlist`` per query; stage 2 re-scores ONLY the shortlist with
    the exact full-dimension cosine and keeps the top ``k``. Output:
    ``(query_id, neighbor_id, cosine_sim, rank)`` — same contract as
    :func:`brute_force_topk`, so recall@k against the exact path is a
    direct join.

    **Size ``out_dim``/``shortlist`` to the corpus's neighbor gaps.**
    JL resolves cosine differences of roughly ``1/sqrt(out_dim)``
    (±0.25 at 16 dims, ±0.18 at 32); a corpus whose true-neighbor
    margins are NARROWER than that needs a higher ``out_dim`` or a
    deeper ``shortlist`` — on the synthetic embeddings (p99 pairwise
    cosine 0.29, top-5 margins ~0.05, i.e. deliberately below sketch
    resolution) measured recall@5 climbs 0.10 -> 0.32 -> 0.50 as
    shortlist grows 20 -> 50 -> 100 at out_dim=16, and 0.28/0.40/0.60
    at out_dim=32 — the monotone recall-vs-shortlist trade is what the
    test pins, not a flattering point estimate. Real text-embedding
    corpora have near-dup margins far above 0.25, which is where the
    16-dim sketch earns its 4x.

    Scale shape (each piece sized to which side is actually big):

    - **The QUERY sketches are the broadcast side** (a query batch is
      small by contract; the corpus never is), so stage 1 is ONE corpus
      scan with the |Q| x out_dim sketch table riding along — the
      corpus is the streamed side of a broadcast nested-loop, never
      shuffled and never broadcast.
    - **Stage 1 touches sketches only** — neither side's full vectors
      enter the |Q| x |N| contact, so the per-pair arithmetic AND the
      broadcast bytes are both out_dim/in_dim of the naive cost
      (sketch-then-ship; at 100 TB the sketch is a materialized stored
      column, so the stage-1 scan reads out_dim doubles per row).
    - **The shortlist window is two-phase top-k**: the rank filter is
      the ``row_number() <= shortlist`` shape Catalyst's
      WindowGroupLimit rule rewrites into a PARTIAL per-input-partition
      group limit BEFORE the exchange plus a final one after — so only
      ~shortlist x |Q| rows per input partition cross the shuffle, not
      the |Q| x |N| scored rows (plan-pinned by the explain test;
      requires ``shortlist`` under
      ``spark.sql.optimizer.windowGroupLimitThreshold``, default 1000).
    - **Full vectors are fetched for the shortlist only**: the
      shortlist ids (|Q| x shortlist rows) are broadcast back against
      the corpus as an equi-join on ``neighbor_id``, so stage 2's exact
      rerank reads full-dimension vectors for exactly the shortlist
      rows — the corpus is again streamed, never shuffled.

    Both ranks order rounded scores with id tie-breaks, so the whole
    pipeline is engine-replayable (the DuckDB oracle re-runs both
    stages)."""
    dim = _infer_dim(corpus, "embedding")
    # the QUERY-side sketch norm is hoisted per row (free — the batch
    # is small and rides the broadcast anyway); the CORPUS-side norm
    # stays per-pair ON PURPOSE: hoisting it would re-evaluate the
    # in_dim-wide sketch expression a second time per corpus row (HOF
    # lambdas get no CSE), which the amplified probe measured as a NET
    # LOSS at small |Q| — 64 x 16 element-ops added per row vs |Q| x 16
    # saved per row, i.e. the hoist only pays once |Q| > in_dim/norm-
    # share. With a STORED sketch column (the 100 TB shape) both norms
    # hoist for free — brute_force_topk shows that form. Same float
    # values either way, so the oracle is unchanged.
    q_sk = queries.select(
        F.col("vec_id").alias("query_id"),
        rp_sketch_expr(_ident_sql("embedding"), dim, out_dim).alias("__qs"),
        norm(
            rp_sketch_expr(_ident_sql("embedding"), dim, out_dim)
        ).alias("__qn"),
    )
    c_sk = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        rp_sketch_expr(_ident_sql("embedding"), dim, out_dim).alias("__cs"),
    )
    sketch_sim = F.round(
        dot(F.col("__qs"), F.col("__cs"))
        / (F.col("__qn") * norm(F.col("__cs"))),
        6,
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("__ss").desc(), F.col("neighbor_id").asc()
    )
    shortlisted = (
        c_sk.crossJoin(F.broadcast(q_sk))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__ss", sketch_sim)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    c_full = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    q_full = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    exact = F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        c_full.join(F.broadcast(shortlisted), "neighbor_id")
        .join(F.broadcast(q_full), "query_id")
        .withColumn("cosine_sim", exact)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def rp_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_cells: int = 4,
    n_iter: int = 2,
    out_dim: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF index built IN SKETCH SPACE — the genuinely sub-linear 100 TB
    ANN path, composing the two pieces this module already has: the JL
    sketch (:func:`rp_sketch_expr`) shrinks every vector to ``out_dim``
    dims, the engine-replayable k-means (``operators/clustering.py``)
    coarse-quantizes THE SKETCHES into ``n_cells`` cells, each query
    probes its ``n_probe`` nearest cells, and the exact full-dimension
    cosine reranks only the probed cells' members to top ``k``. This is
    the standard IVF-flat recipe (Johnson, Douze & Jégou 2017, "Billion-
    scale similarity search with GPUs" / the Faiss ``IVFx`` family) with
    the coarse quantizer trained on JL projections, so BOTH the
    clustering fit and the cell-distance probe arithmetic run at
    ``out_dim/in_dim`` of full-dimension cost.

    Candidate generation is CELL-BOUNDED — ``n_probe/n_cells`` of the
    corpus per query in expectation, never all-pairs and never a cross
    join (contrast :func:`rp_ann_topk`, whose stage 1 scans the whole
    corpus per query batch). With ``n_probe = n_cells`` the search is
    exhaustive and the output EQUALS :func:`brute_force_topk`
    (test-pinned), which is the recall=1 calibration point of the
    n_probe dial. Measured recall@5 on the synthetic embeddings
    (sf0.01, 50 queries — a corpus whose neighbor margins sit BELOW
    16-dim JL resolution, i.e. a deliberately hostile case): 0.46 /
    0.72 / 1.0 at n_probe 1/2/4 of 4 cells, 0.21 / 0.36 / 0.54 at
    n_probe 1/2/4 of 16 cells — the compute-vs-recall dial behaves as
    IVF theory says (recall ~ probed corpus fraction when cluster
    structure is weak, better when it's real), and the monotone climb
    to exactly 1.0 at full probe is what the test pins.

    Plan shape:

    - **Fit**: ``n_iter`` bounded k×out_dim collects + one aggregate
      shuffle each — the sketches are recomputed from the corpus scan
      per iteration (at 100 TB, materialize the sketch as a stored
      column / persist the sketch frame, and fit on a sample).
    - **Index**: cell assignment is a PURE PROJECTION over the corpus
      scan (centroid literal + sketch expression, zero joins/shuffles),
      carrying the full vector alongside — so the query phase is ONE
      corpus scan. A path-backed variant would write partitioned by
      cell, turning the probe into partition pruning (see
      :func:`build_ivf_index`'s ``path`` contract).
    - **Probe + rerank**: the query batch explodes to (query, cell)
      rows and BROADCASTS into an equi-join on the cell id (corpus
      streamed); the exact cosine and the ``row_number() <= k`` rank
      compile to partial+final WindowGroupLimit two-phase top-k.

    Everything is deterministic and engine-replayable (md5 sketch
    matrix, k-lowest-id seeding, 6-dp centroid rounding per round,
    (dist2, cid) tie-breaks, rounded scores with id tie-breaks), so the
    DuckDB oracle replays fit, probe, and rerank end to end.

    Cost split (measured at sf0.1 local): the one-shot call is
    FIT-DOMINATED — the Lloyd rounds are n_iter+1 sequential driver
    jobs whose per-job overhead dwarfs the data cost at test scale,
    while the query phase is one scan+join+top-k. Production amortizes
    the fit: pass ``centroids`` (a prior call's ``kmeans_fit`` result
    over the sketch frame, or this function's own fit persisted by the
    caller) and the call runs the query phase only — the
    ``build_ivf_index``/``ivf_query`` split, parameter edition."""
    from fireball_data_processing_spark.operators.clustering import (
        kmeans_fit,
        nearest_centroid_expr,
    )

    dim = _infer_dim(corpus, "embedding")
    # ONE sketch-augmented corpus frame feeds the whole call — the
    # local analog of the stored sketch column a 100 TB index keeps.
    # Per-row sketch evaluation is pinned by the assignment expression
    # itself (``_bind_once`` inside nearest_centroid_expr evaluates
    # the vector argument once per ROW, not once per centroid — HOF
    # lambda bodies get no common-subexpression elimination, the
    # winnowing lesson), so the frame only needs to be PERSISTED while
    # the Lloyd fit's n_iter+1 driver collects re-run it; kmeans_fit is
    # eager (centroids return as Python literals), so the cache is
    # dropped before the query plan is even built — no cached frame
    # outlives the call on either path.
    wsk = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        rp_sketch_expr(_ident_sql("embedding"), dim, out_dim).alias("__csk"),
    )
    if centroids is None:
        wsk = wsk.persist()
        _, centroids = kmeans_fit(
            wsk, k=n_cells, n_iter=n_iter, vec_col="__csk",
            id_col="neighbor_id",
        )
        wsk.unpersist()
    cells = wsk.select(
        "neighbor_id",
        "__cv",
        nearest_centroid_expr(centroids, "`__csk`")["cid"].alias(
            "__cell"
        ),
    )
    qq = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        rp_sketch_expr(_ident_sql("embedding"), dim, out_dim).alias("__qsk"),
    ).select(
        "query_id",
        "__qv",
        F.expr(
            "explode(transform("
            + nearest_centroids_sql(centroids, "`__qsk`", n_probe)
            + ",pe_s->pe_s.cid))"
        ).alias("__cell"),
    )
    exact = F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cells.join(F.broadcast(qq), "__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", exact)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    tau_dup: float = 0.95,
) -> DataFrame:
    """Hard-negative mining for contrastive/retriever training (the
    DPR / Contriever / SimCSE recipe, Karpukhin et al. 2020): for each
    anchor, the ``k`` MOST similar corpus vectors that are NOT
    near-duplicates — similarity below ``tau_dup`` excludes the
    anchor's positives/copies (which would poison the loss as false
    negatives), and ranking the remainder by similarity DESC makes
    them maximally confusable, which is what makes a negative hard.

    Output ``(query_id, neighbor_id, cosine_sim, rank)`` — the
    brute_force_topk contract with the near-dup band removed, so the
    mined set drops straight into a training-pair writer.

    Plan: the scored contact reuses the brute-force shape (corpus
    broadcast here is the labeled EXACT verifier — at 100 TB generate
    the candidate pool with :func:`rp_ivf_topk`'s cell-bounded contact
    or the LSH buckets and apply the same ``< tau_dup`` band filter +
    rank); the dup-band filter runs BEFORE the rank window, so excluded
    near-dups never occupy shortlist slots, and the rank filter
    compiles to two-phase WindowGroupLimit top-k. Scores are rounded
    with id tie-breaks — fully oracle-replayable."""
    q, c, sim = _normed_sides(queries, corpus)
    sim = F.round(sim, 6)
    return (
        q.crossJoin(F.broadcast(c))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") < tau_dup)
        .withColumn("rank", F.row_number().over(_cosine_rank_window()))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# ---------------------------------------------------------------------
# product quantization (the memory-side ANN path: IVF bounds COMPUTE
# per query, PQ bounds BYTES per stored vector)
# ---------------------------------------------------------------------


def pq_fit(
    corpus: DataFrame,
    m: int = 4,
    ks: int = 4,
    n_iter: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Train product-quantization codebooks: split every vector into
    ``m`` contiguous subvectors and k-means each subspace independently
    (Jégou, Douze & Schmid 2011, "Product Quantization for Nearest
    Neighbor Search" — the Faiss ``PQx`` family). A stored vector then
    costs ``m`` small codes (m bytes at ks<=256) instead of dim
    doubles — the 100 TB memory path, complementing the JL sketch
    (compute) and IVF cells (candidate bounding) this module already
    has.

    Returns ``m`` codebooks, each ``[(cid, centroid), ...]`` ordered by
    cid — per subspace exactly the :func:`~.clustering.kmeans_fit`
    recipe (deterministic k-lowest-id seeding, 6-dp centroid rounding
    per round), so a SQL oracle replays every subspace fit exactly.

    Plan — the ``m`` independent Lloyd loops are FUSED job-wise: the
    subspaces share one seed collect (the seed rows are the same k
    lowest ids in every subspace) and, per iteration, ONE aggregate
    job computes all ``m`` recomputes (each row's m cell assignments
    ride one projection; a per-subspace struct explode keys the mean
    by (subspace, cluster, coordinate) — m·ks·(dim/m) = ks·dim rows,
    bounded). Per-subspace math is unchanged — same memberships, same
    ROUND(AVG, 6) — the fusion only collapses 2m sequential driver
    jobs into 2, which is what dominates fit latency (the aggregates
    themselves are map-side-combined scans). One persisted sliced
    projection feeds the loop and unpersists before returning
    (bounded-collect contract; at scale, fit on a sample and broadcast
    the codebooks, exactly like IVF centroids).

    ``dim``: pass the known vector dimensionality to skip the one-row
    peek (:func:`_infer_dim`); it MUST equal the actual array length —
    a wrong-but-divisible value would silently mis-slice subvectors, so
    a passed dim is cross-checked against the data (:func:`_validate_dim`
    — free via column metadata, else one peek job; only a metadata-less
    STREAMING frame trusts the caller, since it cannot be peeked)."""
    from fireball_data_processing_spark.operators.clustering import (
        coordinate_means,
        nearest_centroid_expr,
    )

    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    else:
        _validate_dim(corpus, vec_col, dim)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    sliced = corpus.select(
        F.col(id_col).alias("vec_id"),
        *[
            F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub)
            .alias(f"__s{j}")
            for j in range(m)
        ],
    ).persist()
    # one seed collect for every subspace: kmeans_fit's seeding is the
    # k lowest ids' ROUNDED vectors, and the id order is shared
    seed_rows = (
        sliced.select(
            "vec_id",
            *[
                F.expr(
                    f"transform(`__s{j}`,ps_x->round(ps_x,6))"
                ).alias(f"__r{j}")
                for j in range(m)
            ],
        )
        .orderBy("vec_id")
        .limit(ks)
        .collect()
    )
    books = [
        [
            (i, [float(x) for x in r[f"__r{j}"]])
            for i, r in enumerate(seed_rows)
        ]
        for j in range(m)
    ]
    for _ in range(n_iter):
        # all m assignments in one projection; one struct explode keys
        # the elementwise mean by (subspace, cluster, coordinate)
        stacked = sliced.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("__j"),
                            nearest_centroid_expr(
                                books[j], f"`__s{j}`"
                            )["cid"].alias("__cid"),
                            F.col(f"__s{j}").alias("__v"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("__e")
        ).select("__e.__j", "__e.__cid", F.posexplode("__e.__v").alias("__pos", "__x"))
        means = coordinate_means(stacked, "__j", "__cid")
        new = {
            (int(r["__j"]), int(r["__cid"])): [
                float(c["__m"]) for c in r["__coords"]
            ]
            for r in means
        }
        books = [
            [(cid, new.get((j, cid), old)) for cid, old in books[j]]
            for j in range(m)
        ]
    # every collect above is bounded (ks seeds, ks x dim means); only
    # the codebook literals survive, so nothing downstream reads the
    # cache — drop it before returning instead of leaking one
    # corpus-wide cached frame per call
    sliced.unpersist()
    return books


def _check_pq_dims(
    dim: int, codebooks: list[list[tuple[int, list[float]]]]
) -> None:
    """Fail fast when codebooks don't fit the vector dimension: ``dim``
    must split evenly into ``m = len(codebooks)`` subspaces and every
    codebook centroid must be exactly ``dim // m`` wide (the
    :func:`pq_fit` contract). Without this, encoding/scoring a corpus
    of a different dimension than the training corpus silently
    mis-slices — ``F.slice`` past the end yields short arrays and the
    distance folds produce null/garbage instead of an error."""
    m = len(codebooks)
    if m == 0 or dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    for j, book in enumerate(codebooks):
        widths = {len(cent) for _, cent in book}
        if widths != {sub}:
            raise ValueError(
                f"codebook {j} centroid width {sorted(widths)} != dim//m "
                f"{sub} — codebooks were fit on a different dimension"
            )


def pq_code_sql(
    vec_sql: str, dim: int, codebooks: list[list[tuple[int, list[float]]]]
) -> str:
    """Text twin of :func:`pq_code_expr` over a SQL fragment: the input
    binds once (``pq_v``), each subspace code is the
    :func:`~.clustering.nearest_centroid_sql` argmin over its slice."""
    m = len(codebooks)
    _check_pq_dims(dim, codebooks)
    sub = dim // m
    codes = ",".join(
        nearest_centroid_sql(
            codebooks[j], f"slice(pq_v,{j * sub + 1},{sub})"
        )
        + ".cid"
        for j in range(m)
    )
    return (
        f"element_at(transform(array({vec_sql}),pq_v->array({codes})),1)"
    )


def pq_code_expr(
    vec: Column | str, dim: int, codebooks: list[list[tuple[int, list[float]]]]
) -> Column:
    """Encode a vector as its ``array<int>`` of per-subspace nearest-
    centroid codes — a PURE column expression (codebooks enter as
    literals), so encoding is a zero-shuffle projection over the corpus
    scan and drops into streams unchanged. ``vec`` must already be
    ``array<double>``; ties break to the lowest code (the
    :func:`~.clustering.nearest_centroid_expr` contract). Raises if
    ``dim`` is not divisible by the codebook count or the codebook
    subvector width disagrees with ``dim // m`` — encoding a corpus
    whose dimension differs from the training corpus would otherwise
    silently mis-slice into null/garbage distances. A SQL
    fragment string input takes the O(1)-py4j text path
    (:func:`pq_code_sql` — value-identical, parity-tested)."""
    from fireball_data_processing_spark.operators.clustering import (
        _bind_once,
        nearest_centroid_expr,
    )

    if isinstance(vec, str):
        return F.expr(pq_code_sql(vec, dim, codebooks))
    m = len(codebooks)
    _check_pq_dims(dim, codebooks)
    sub = dim // m
    # bind vec once per row: a COMPOSITE vec expression (e.g. the IVFPQ
    # residual) is referenced by all m subspace slices, and HOF lambda
    # bodies get no common-subexpression elimination
    return _bind_once(
        vec,
        lambda v: F.array(
            *[
                nearest_centroid_expr(
                    codebooks[j], F.slice(v, j * sub + 1, sub)
                )["cid"]
                for j in range(m)
            ]
        ),
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus side
    carries ONLY its ``m`` codes (never the vectors), each query
    precomputes an ``m x ks`` table of exact squared distances from its
    own subvectors to every codebook centroid, and the approximate
    distance is ``m`` table lookups summed — Jégou et al. 2011's ADC,
    the lookup trick that makes scanning a billion codes cheap.

    Output: ``(query_id, neighbor_id, adc_d2, rank)``, rank 1 =
    nearest (smallest approximate squared L2), rounded scores with id
    tie-breaks — engine-replayable end to end (the oracle re-runs every
    subspace fit, the encoding argmin, and the same lookup sum).

    Plan shape: the corpus scan projects codes (pure expression) and
    STREAMS against the broadcast query batch, whose distance tables
    ride along as per-row array literals of expressions; the per-pair
    work is ``m`` ``element_at`` lookups + adds — no per-pair
    full-dimension arithmetic anywhere; the rank filter compiles to
    two-phase WindowGroupLimit top-k. At 100 TB the codes are a stored
    column (dim/m x 8 compression at ks<=256) and this is one
    code-column scan."""
    dim = _infer_dim(corpus, "embedding")
    m = len(codebooks)
    _check_pq_dims(dim, codebooks)
    sub = dim // m
    vs = _cast_vec_sql("embedding")
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        pq_code_expr(vs, dim, codebooks).alias("__codes"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        *[
            F.expr(
                "array("
                + ",".join(
                    _dist2_sql(
                        f"slice({vs},{j * sub + 1},{sub})", _vec_sql(cent)
                    )
                    for _, cent in codebooks[j]
                )
                + ")"
            ).alias(f"__t{j}")
            for j in range(m)
        ],
    )
    adc = F.round(
        sum(
            F.element_at(
                F.col(f"__t{j}"), F.element_at("__codes", j + 1) + 1
            )
            for j in range(m)
        ),
        6,
    )
    return _adc_topk(c.crossJoin(F.broadcast(q)), adc, k)


# ---------------------------------------------------------------------
# IVF-PQ: coarse cells bound CANDIDATES, product-quantized RESIDUALS
# bound BYTES — the composed billion-scale index (Faiss IVFPQ)
# ---------------------------------------------------------------------


def _cell_centroid_sql(centroids: list[tuple[int, list[float]]]) -> str:
    """``array<array<double>>`` SQL of centroid vectors ordered by cid
    (``kmeans_fit`` enumerates cids 0..k-1), so ``element_at(arr,
    cid + 1)`` is the cell→centroid lookup as a pure expression."""
    ordered = sorted(centroids)
    if [cid for cid, _ in ordered] != list(range(len(ordered))):
        raise ValueError("centroid cids must be exactly 0..k-1")
    return "array(" + ",".join(_vec_sql(v) for _, v in ordered) + ")"


def _ivfpq_residual_sql(
    centroids: list[tuple[int, list[float]]], vec_sql: str
) -> str:
    """The IVFPQ residual ``v - c(v)`` as text: the input binds once
    (``rb_v``), its cell comes from the nearest-centroid argmin, and
    the centroid lookup is ``element_at`` into the cid-ordered table —
    the same expressions the Column builders produced."""
    cv = _cell_centroid_sql(centroids)
    cell = nearest_centroid_sql(centroids, "rb_v") + ".cid"
    return (
        f"element_at(transform(array({vec_sql}),rb_v->zip_with(rb_v,"
        f"element_at({cv},{cell}+1),(ri_a,ri_b)->ri_a-ri_b)),1)"
    )


def ivfpq_fit(
    corpus: DataFrame,
    n_cells: int = 4,
    m: int = 4,
    ks: int = 4,
    coarse_n_iter: int = 1,
    pq_n_iter: int = 1,
    dim: int | None = None,
) -> tuple[list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]]]:
    """Train the two quantizers of a Faiss-style IVFPQ index (Jégou,
    Douze & Schmid 2011 §IV — "IVFADC"): a coarse k-means over the FULL
    vectors partitions the corpus into ``n_cells`` inverted lists, then
    product quantization is fit on the RESIDUALS ``v - c(v)`` (vector
    minus its cell centroid) — residuals concentrate near the origin,
    so the same code budget quantizes them far more finely than raw
    vectors, which is the whole reason IVFPQ beats flat PQ at equal
    bytes.

    Returns ``(centroids, codebooks)``: the coarse cell table and the
    ``m`` residual codebooks — all driver-side literals, both fits the
    deterministic engine-replayable :func:`~.clustering.kmeans_fit`
    (k-lowest-id seeding, 6-dp centroid rounding per round), so a SQL
    oracle replays coarse fit, residual computation, and every subspace
    fit exactly.

    Plan: the coarse fit is the bounded-collect Lloyd loop; the
    residual is a pure expression over one corpus projection (cell
    assignment + centroid-literal lookup + ``zip_with`` subtraction,
    zero joins); the PQ fit persists that projection only for its own
    Lloyd collects and unpersists before returning (:func:`pq_fit`). At
    100 TB, fit both quantizers on a sample and broadcast the literals."""
    from fireball_data_processing_spark.operators.clustering import (
        kmeans_fit,
    )

    if dim is None:
        dim = _infer_dim(corpus, "embedding")
    else:
        # A caller-supplied dim drives BOTH quantizers' subvector math,
        # so a wrong-but-divisible value would train garbage codebooks
        # that _check_pq_dims can no longer catch — validate it against
        # the source column BEFORE any fit work (free when load_table
        # attached {"dim"} metadata, else one peek job; a wrong dim
        # must not pay the whole coarse Lloyd fit before raising).
        _validate_dim(corpus, "embedding", dim)
    base = corpus.select(
        F.col("vec_id"),
        F.expr(_cast_vec_sql("embedding")).alias("__v"),
    )
    _, centroids = kmeans_fit(
        base, k=n_cells, n_iter=coarse_n_iter, vec_col="__v", id_col="vec_id"
    )
    residuals = base.select(
        "vec_id",
        F.expr(_ivfpq_residual_sql(centroids, "`__v`")).alias("__r"),
    ).withMetadata("__r", {"dim": dim})
    # the residual is a zip_with over __v, so its length IS the validated
    # dim — stamping it as metadata makes pq_fit's own re-validation free
    codebooks = pq_fit(
        residuals, m=m, ks=ks, n_iter=pq_n_iter, vec_col="__r",
        id_col="vec_id", dim=dim,
    )
    return centroids, codebooks


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 4,
    n_probe: int = 2,
    m: int = 4,
    ks: int = 4,
    coarse_n_iter: int = 1,
    pq_n_iter: int = 1,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the composed index shape
    a 100 TB vector corpus actually stores (Faiss ``IVFx,PQy``): coarse
    cells bound CANDIDATES (each query touches ``n_probe / n_cells`` of
    the corpus), PQ residual codes bound BYTES (each stored vector is
    ``m`` small codes, never the ``dim`` doubles), and the scan cost
    per candidate is ``m`` table lookups (ADC). This completes the
    module's retrieval ladder: JL sketch = compute, IVF cells =
    candidates, PQ codes = memory, IVFPQ = candidates × memory at once.

    Output ``(query_id, neighbor_id, adc_d2, rank)`` — rank 1 =
    smallest approximate squared L2, rounded scores, (d2, id)
    tie-breaks, self-pairs excluded: the :func:`pq_topk` contract, so
    consumers swap flat-PQ for IVFPQ by changing one call.

    Plan shape (the 100 TB lens):

    - **Index = pure projection.** The corpus scan emits
      ``(neighbor_id, cell, codes)`` — cell assignment and residual PQ
      encoding are all centroid-literal expressions (zero joins/
      shuffles); full vectors never leave the scan.
    - **Queries broadcast, corpus streams.** Each query explodes to its
      ``n_probe`` (cell, ADC-table) rows — the per-cell table holds the
      exact distances from the query's CELL-RESIDUAL ``q - c(cell)`` to
      every codebook centroid (the IVFADC subtlety: the query residual
      is per probed cell, so the tables ride the exploded rows) — and
      the probe batch broadcast-equi-joins the index on the cell id.
    - **Top-k is two-phase.** ``row_number() <= k`` over (adc_d2, id)
      compiles to partial+final WindowGroupLimit, so only k candidates
      per query per partition reach the exchange.

    Everything is deterministic (both fits engine-replayable, rounded
    scores, lexicographic tie-breaks), so the DuckDB oracle replays
    coarse fit → residuals → m subspace fits → encoding → probe → ADC
    end to end — a fully value-hash-verified composed ANN index."""
    dim = _infer_dim(corpus, "embedding")
    centroids, codebooks = ivfpq_fit(
        corpus, n_cells=n_cells, m=m, ks=ks,
        coarse_n_iter=coarse_n_iter, pq_n_iter=pq_n_iter,
        dim=dim,
    )
    _check_pq_dims(dim, codebooks)
    idx = _ivfpq_code_frame(corpus, centroids, codebooks, dim, "vec_id", "embedding")
    qt = _ivfpq_probe_frame(
        queries, centroids, codebooks, dim, n_probe, "vec_id", "embedding"
    )
    return _ivfpq_adc_rank(idx.join(F.broadcast(qt), "cell"), codebooks, k)


def _ivfpq_code_frame(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVFPQ index projection: ``(neighbor_id, cell, __codes)`` —
    cell assignment and residual PQ encoding as centroid-literal pure
    expressions over the corpus scan (zero joins/shuffles; full vectors
    never leave the scan). Built entirely as SQL text (the O(1)-py4j
    plan-construction path — see the clustering module note)."""
    vs = f"cast({_ident_sql(vec_col)} as array<double>)"
    cell = nearest_centroid_sql(centroids, vs) + ".cid"
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(cell).alias("cell"),
        F.expr(
            pq_code_sql(_ivfpq_residual_sql(centroids, vs), dim, codebooks)
        ).alias("__codes"),
    )


def _ivfpq_probe_frame(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVFPQ probe batch: ``(query_id, cell, __t)`` — each query
    exploded to its ``n_probe`` nearest cells, carrying the m x ks ADC
    table of exact distances from its CELL residual (q - c(cell), the
    IVFADC subtlety) to every codebook centroid, bound once per row.
    Built entirely as SQL text (the O(1)-py4j path)."""
    sub = dim // len(codebooks)
    vs = f"cast({_ident_sql(vec_col)} as array<double>)"
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(vs).alias("__qv"),
        F.expr(
            "explode(transform("
            + nearest_centroids_sql(centroids, vs, n_probe)
            + ",pe_s->pe_s.cid))"
        ).alias("cell"),
    )
    qres = (
        f"zip_with(`__qv`,element_at({_cell_centroid_sql(centroids)},"
        "`cell`+1),(qr_a,qr_b)->qr_a-qr_b)"
    )
    tables = ",".join(
        "array("
        + ",".join(
            _dist2_sql(f"slice(tb_r,{j * sub + 1},{sub})", _vec_sql(cent))
            for _, cent in codebooks[j]
        )
        + ")"
        for j in range(len(codebooks))
    )
    return probed.select(
        "query_id",
        "cell",
        F.expr(
            f"element_at(transform(array({qres}),tb_r->array({tables})),1)"
        ).alias("__t"),
    )


def _ivfpq_adc_rank(
    joined: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int,
) -> DataFrame:
    """ADC lookup sum (6 dp) + two-phase top-k over the (index ⋈ probe)
    rows."""
    adc = F.round(
        sum(
            F.element_at(
                F.element_at("__t", j + 1),
                F.element_at("__codes", j + 1) + 1,
            )
            for j in range(len(codebooks))
        ),
        6,
    )
    return _adc_topk(joined, adc, k)


def _adc_topk(pairs: DataFrame, adc: Column, k: int) -> DataFrame:
    """``(query_id, neighbor_id, adc_d2, rank)``: the ``k`` nearest
    non-self neighbours of each query among ``pairs`` by the approximate
    distance ``adc``, ``neighbor_id`` breaking ties; the rank filter
    compiles to two-phase WindowGroupLimit top-k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_d2", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )
