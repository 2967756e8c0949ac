"""Capture .explain("formatted") for a round's optimization targets.

Writes plans/<round>/<query>_<tag>.txt for each named query (tag =
before/after; default: the headline suite plus the heavy extras).
For the two streaming capstones the returned frame is a localCheckpoint of
the final table (the stream already ran), so the meaningful plan is the
PER-EPOCH batch plan — captured via ingest_pipeline_batch over one staged
slice.

Usage: python scripts/capture_plans.py <round> <tag> [query ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)

DEFAULT_TARGETS = [
    # headline legacy suite
    "heuristics_matrix", "asof_state_backward", "nearest_purchase",
    "run_lengths", "triples_summary", "pricing_summary", "revenue_by_nation",
    "znorm_user_values", "exact_dedup_groups", "doc_quality",
    "minhash_signatures", "near_dup_pairs", "simhash_fingerprints",
    "ann_cosine_topk", "bm25_search", "cross_doc_line_dedup",
    "kmeans_cluster_profile", "pq_adc_topk_neighbors",
    "markov_stationary_profile",
    # heavy extras under optimization
    "set_similarity_pairs", "dedup_quality_survivors", "leakage_safe_split",
    "dup_cluster_size_histogram", "spearman_doc_metrics",
    "frozen_lm_quality_gate", "domain_budget_fill", "dedup_token_mass_sweep",
    "dedup_threshold_sweep", "near_dup_clusters", "dedup_mix_bias",
    "dup_graph_triangle_census", "ingest_gate_near_new", "lsh_band_hit_rates",
]


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    round_, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT_TARGETS
    out_dir = os.path.join(PLANS_DIR, round_)
    os.makedirs(out_dir, exist_ok=True)

    from fireball_data_processing_spark import queries as catalog
    from fireball_data_processing_spark.session import get_spark

    spark = get_spark(app_name=f"plan-capture-{round_}")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        if name in ("streaming_ingest_pipeline", "streaming_ingest_near_pipeline"):
            _capture_capstone(spark, name, path)
            continue
        df = catalog.REGISTRY[name].fn(spark, SF_DIR)
        with open(path, "w") as f:
            f.write(explain_str(df))
        print("captured", name, flush=True)


def _capture_capstone(spark, name: str, path: str) -> None:
    """Per-epoch batch plan + staging plan for a capstone (the query fn
    itself runs the whole stream; its returned frame is a checkpoint scan)."""
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.operators.dedup import minhash_signature
    from fireball_data_processing_spark.sources.tables import load_table
    from fireball_data_processing_spark.streaming.capstone import (
        ingest_pipeline_batch,
    )
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_band_index,
        corpus_hash_index,
    )

    d = load_table(spark, SF_DIR, "documents")
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    incoming = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) != 0)
    slice0 = incoming.filter(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4)) == 0
    )
    if name == "streaming_ingest_pipeline":
        index = corpus_hash_index(corpus).localCheckpoint()
        batch = ingest_pipeline_batch(slice0, index, gate="exact")
    else:
        index = corpus_band_index(
            minhash_signature(corpus), num_hashes=8, band_size=2
        ).localCheckpoint()
        batch = ingest_pipeline_batch(
            slice0, index, gate="near",
            min_parallelism=spark.sparkContext.defaultParallelism,
        )
    with open(path, "w") as f:
        f.write("== per-epoch batch plan (one staged slice) ==\n")
        f.write(explain_str(batch))
    print("captured", name, flush=True)


if __name__ == "__main__":
    main()
