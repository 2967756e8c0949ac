"""Data-dominated scaling probe: amplify the sf0.1 documents table by
unioning id-shifted, token-perturbed copies (x1 / x16 / x64 / x256 ->
5k .. 1.28M docs) and time representative heavy operators end-to-end
(noop sink, warm plans, min of 2).

WHY: the sf0.001..sf0.1 scaling table in README is overhead-dominated —
per-job fixed cost hides data growth. This probe pushes into the regime
where data volume IS the cost, so the question the 100 TB lens actually
asks ("is time ~linear in rows once data dominates?") gets a measured
answer. The amplified frame is an internal PERF input only (catalog
queries and their oracles keep reading the driver's parquet verbatim);
each copy appends a copy-index token so cross-copy texts are near- but
not exact duplicates — dedup operators keep realistic group sizes
instead of degenerating into one giant duplicate class.

Usage: python scripts/amplify_probe.py [factor ...]   (default 1 16 64 256)
Prints a markdown row per (operator, factor) with rows/sec.

ANN mode: python scripts/amplify_probe.py --ann [factor ...]
(default 16 64) — amplifies the EMBEDDINGS table instead (id-shifted,
one deterministic coordinate perturbation per copy) and times the ANN
family head-to-head: brute_force_topk (the labeled exact verifier),
rp_ann_topk, and rp_ivf_topk on the amortized centroids= path. This is
the probe that caught the round-6 sketch-inlining bug (README
"data-dominated probe" section).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
SHIFT = 10_000_000


def amplified(spark, factor: int):
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.sources.tables import load_table

    d = load_table(spark, BASE, "documents")
    parts = [
        d.select(
            (F.col("doc_id") + i * SHIFT).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), F.lit(f"cv{i}")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # rebalance so every factor runs on comparable partition counts
    return out.repartition(32)


def amplified_events(spark, factor: int):
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.sources.tables import load_table

    ev = load_table(spark, BASE, "events")
    parts = [
        ev.select(
            (F.col("event_id") + i * SHIFT).alias("event_id"),
            (F.col("user_id") + i * SHIFT).alias("user_id"),
            "event_type",
            (F.col("value") + F.lit(i % 97) * 0.001).alias("value"),
        )
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32)


def amplified_embeddings(spark, factor: int):
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.sources.tables import load_table

    e = load_table(spark, BASE, "embeddings")
    parts = [
        e.select(
            (F.col("vec_id") + i * SHIFT).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.lit(i % 97) * 0.001
            ).alias("embedding"),
        )
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32)


def ann_main(factors: list[int]) -> None:
    import time as _t

    from pyspark.sql import functions as F

    from fireball_data_processing_spark.operators.clustering import kmeans_fit
    from fireball_data_processing_spark.operators.similarity import (
        brute_force_topk,
        rp_ann_topk,
        rp_ivf_topk,
        rp_sketch_expr,
    )
    from fireball_data_processing_spark.session import get_spark

    spark = get_spark(app_name="fireball-spark-ann-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for factor in factors:
        corpus = amplified_embeddings(spark, factor).persist()
        n = corpus.count()
        q = corpus.filter(F.col("vec_id") < 10)
        sk = corpus.select(
            F.col("vec_id").alias("__id"),
            rp_sketch_expr(F.col("embedding"), 64, 16, 6).alias("__sk"),
        ).persist()
        sk.count()
        _, cents = kmeans_fit(sk, k=16, n_iter=2, vec_col="__sk", id_col="__id")
        sk.unpersist()

        def timed(fn):
            fn().write.format("noop").mode("overwrite").save()
            best = None
            for _ in range(2):
                t0 = _t.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                dt = _t.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 2)

        print(
            f"| x{factor} ({n} vecs) "
            f"| brute {timed(lambda: brute_force_topk(q, corpus, k=5))}s "
            f"| rp_ann {timed(lambda: rp_ann_topk(q, corpus, k=5, shortlist=20))}s "
            f"| rp_ivf(amortized) "
            f"{timed(lambda: rp_ivf_topk(q, corpus, k=5, n_probe=2, n_cells=16, centroids=cents))}s |"
        )
        corpus.unpersist()


def amplified_disjoint(spark, factor: int):
    """Token-disjoint amplification: every word in copy ``i`` gets a
    ``c{i}`` suffix, so NO shingle is shared across copies. Per-copy
    document frequencies (and thus prefix selection and candidate
    structure) replicate the base corpus exactly — candidate and result
    counts are linear in ``factor`` BY CONSTRUCTION, which isolates the
    engine-scaling question ("is wall time ~linear when the work is?")
    from the fixture question ("how many near-dup pairs did amplification
    itself inject?"). The plain :func:`amplified` fixture answers the
    latter — its trailing-token copies ARE near-dups of each other, so
    true pairs (and the candidate superset) grow ~quadratically in
    ``factor``: output-bound, not algorithm-bound."""
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.sources.tables import load_table

    d = load_table(spark, BASE, "documents")
    parts = [
        d.select(
            (F.col("doc_id") + i * SHIFT).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1c{i}").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32)


def setjoin_main(factors: list[int]) -> None:
    """set_similarity_pairs scaling probe (VERDICT r10 ask #3): the
    PPJoin-family exact Jaccard>=0.5 self-join over 3-shingles, timed at
    amplified document counts with the candidate and result-pair counts
    alongside — the claim under test is the prefix-filter bound: wall
    time tracks candidates + output, never all-pairs."""
    import time as _t

    from fireball_data_processing_spark.operators.setjoin import (
        prefix_candidates,
        set_similarity_join,
        shingle_sets,
    )
    from fireball_data_processing_spark.session import get_spark

    spark = get_spark(app_name="fireball-spark-setjoin-probe")
    spark.sparkContext.setLogLevel("ERROR")
    print("| variant | factor | docs | candidates | pairs | join wall |")
    print("|---|---|---|---|---|---|")
    for variant, amp in (("disjoint", amplified_disjoint), ("neardup", amplified)):
        for factor in factors:
            d = amp(spark, factor).persist()
            n = d.count()
            n_cand = prefix_candidates(shingle_sets(d, k=3), 0.5).count()

            def run():
                set_similarity_join(d, threshold=0.5, k=3).write.format(
                    "noop"
                ).mode("overwrite").save()

            run()  # warm plans/codegen
            best, n_pairs = None, None
            for _ in range(2):
                t0 = _t.perf_counter()
                run()
                dt = _t.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            n_pairs = set_similarity_join(d, threshold=0.5, k=3).count()
            print(
                f"| {variant} | x{factor} | {n} | {n_cand} | {n_pairs} "
                f"| {best:.1f}s |",
                flush=True,
            )
            d.unpersist()


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--ann":
        ann_main([int(a) for a in args[1:]] or [16, 64])
        return
    if args and args[0] == "--setjoin":
        setjoin_main([int(a) for a in args[1:]] or [1, 4, 16])
        return
    factors = [int(a) for a in args] or [1, 16, 64, 256]

    from pyspark.sql import functions as F

    from fireball_data_processing_spark.functions.textstats import (
        bigram_logprob,
        gopher_rules,
    )
    from fireball_data_processing_spark.operators.dedup import (
        exact_dedup_groups,
        line_dedup,
    )
    from fireball_data_processing_spark.operators.selection import budget_fill
    from fireball_data_processing_spark.session import get_spark

    spark = get_spark(app_name="fireball-spark-amplify")
    spark.sparkContext.setLogLevel("ERROR")

    def op_gopher(d):
        flags = gopher_rules(F.col("text"))
        return d.select("doc_id", *[c.alias(n) for n, c in flags.items()])

    def op_exact(d):
        return exact_dedup_groups(d)

    def op_line(d):
        return line_dedup(d, seg_words=8, min_docs=2)

    def op_bigram(d):
        return bigram_logprob(d)

    def op_budget(d):
        scored = d.select(
            "doc_id",
            ((F.col("n_chars") % 97) / 97.0).alias("q"),
            F.greatest(F.lit(1), F.floor(F.col("n_chars") / 4)).alias("toks"),
        )
        return budget_fill(
            scored, "q", "toks", "doc_id", budget=2_000_000_000
        )

    from fireball_data_processing_spark.sources.tables import load_table
    from fireball_data_processing_spark.streaming.capstone import (
        ingest_pipeline_batch,
    )
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_hash_index,
    )

    # the capstone's per-micro-batch plan over an amplified slice,
    # gated against a FIXED corpus index (the static side stays
    # corpus-sized while the incoming slice grows — the stream shape)
    cap_index = corpus_hash_index(
        load_table(spark, BASE, "documents").filter(F.col("doc_id") % 4 == 0)
    ).localCheckpoint()

    def op_capstone(d):
        return ingest_pipeline_batch(d, cap_index)

    # (name, fn, max factor — the quadratic-contact ops cap lower so the
    # probe stays minutes, not hours)
    OPS = [
        ("gopher_quality_gate (scan)", op_gopher, 256),
        ("exact_dedup_groups", op_exact, 256),
        ("budget_fill", op_budget, 256),
        ("ingest_pipeline_batch (r10 capstone per-batch plan)", op_capstone, 256),
        ("cross_doc_line_dedup", op_line, 64),
        ("doc_bigram_logprob", op_bigram, 64),
    ]

    print("| operator | " + " | ".join(f"x{f}" for f in factors) + " |")
    print("|---|" + "---|" * len(factors))
    for name, fn, cap in OPS:
        cells = []
        for f in factors:
            if f > cap:
                cells.append("—")
                continue
            d = amplified(spark, f)
            # warm once (plan/codegen), then min of 2 timed
            fn(d).write.format("noop").mode("overwrite").save()
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn(d).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            rows = 5000 * f
            cells.append(f"{best:.2f}s ({rows / best / 1000:.0f}k rows/s)")
        print(f"| {name} | " + " | ".join(cells) + " |")

    # Bradley-Terry over amplified EVENTS (its input table): the
    # data-proportional pass is the per-(user, type) aggregate +
    # co-partitioned self-join down to the comparison matrix; the MM
    # fit on the collected matrix is data-invariant by construction.
    from fireball_data_processing_spark.operators.preference import bt_ranking

    def op_bt(ev):
        per = ev.groupBy("user_id", "event_type").agg(
            F.round(F.sum("value"), 6).alias("v")
        )
        a = per.select("user_id", F.col("event_type").alias("ta"),
                       F.col("v").alias("va"))
        b = per.select("user_id", F.col("event_type").alias("tb"),
                       F.col("v").alias("vb"))
        outcomes = (
            a.join(b, "user_id")
            .filter(F.col("ta") < F.col("tb"))
            .select(
                F.when(F.col("va") > F.col("vb"), F.col("ta"))
                .when(F.col("vb") > F.col("va"), F.col("tb")).alias("winner"),
                F.when(F.col("va") > F.col("vb"), F.col("tb"))
                .when(F.col("vb") > F.col("va"), F.col("ta")).alias("loser"),
            )
            .filter(F.col("winner").isNotNull())
        )
        return bt_ranking(outcomes, n_iter=16)

    cells = []
    for f in factors:
        ev = amplified_events(spark, f)
        op_bt(ev).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            op_bt(ev).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        rows = 100_000 * f
        cells.append(f"{best:.2f}s ({rows / best / 1000:.0f}k rows/s)")
    print("| bt_event_type_ranking (r10, amplified events) | "
          + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
