"""Capture .explain("formatted") for a round's optimization targets.

Writes plans/<round>/<query>_<tag>.txt for each named query (tag =
before/after; default: the headline suite plus the heavy extras; ``all``:
every registered query), plus plans/<round>/oracles.md5 with one
``<name> <md5>`` line per ``oracle_sql()`` entry. Expression, plan and RDD
ids and scratch directories under the temp dir are masked, so two
captures of the same plans are byte-identical.
For the two streaming capstones the returned frame is a localCheckpoint of
the final table (the stream already ran), so the meaningful plan is the
PER-EPOCH batch plan — captured via ingest_pipeline_batch over one staged
slice.

Usage: python scripts/capture_plans.py <round> <tag> [all | query ...]

An absolute <round> writes outside plans/, so checking that a change
leaves every plan and oracle as it was is a ``diff -r``:

    export SPARK_GRAFT_SF_DIR=/path/to/sf0.01
    python scripts/capture_plans.py /tmp/plans_a x all   # at the parent
    python scripts/capture_plans.py /tmp/plans_b x all   # at the change
    diff -r /tmp/plans_a /tmp/plans_b
"""

from __future__ import annotations

import hashlib
import io
import os
import re
import sys
import tempfile
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


# ids numbered by session-wide counters (`name#12`, `[plan_id=34]`,
# `MapPartitionsRDD[56]`) and per-run scratch directories under the temp dir
_IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")
_SCRATCH = re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\]\s,]+")


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return _SCRATCH.sub("<tmp>", _IDS.sub(r"\1N", buf.getvalue()))


def main() -> None:
    round_, tag = sys.argv[1], sys.argv[2]
    out_dir = os.path.join(PLANS_DIR, round_)
    os.makedirs(out_dir, exist_ok=True)

    from fireball_data_processing_spark import queries as catalog
    from fireball_data_processing_spark.session import get_spark

    names = sys.argv[3:] or DEFAULT_TARGETS
    if names == ["all"]:
        names = list(catalog.queries())
    with open(os.path.join(out_dir, "oracles.md5"), "w") as f:
        for name, sql in catalog.oracle_sql().items():
            f.write(f"{name} {hashlib.md5(sql.encode()).hexdigest()}\n")

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
