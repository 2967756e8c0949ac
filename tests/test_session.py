"""``get_spark`` sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``) above the working set of a
repeated pass, so a pass run again compiles no code.

Spark's default holds 100 classes. An LRU cache smaller than a cyclic
working set misses on every lookup, so a pass of more than 100 classes
recompiles all of them, every time. The pass here has the shape of
fbbench's ``fireball_batch`` pass and reuses its distill and pairs plans."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "fbbench"))

import corpus  # noqa: E402 - fbbench's corpus generator
import workloads  # noqa: E402 - fbbench's distill and pairs plans

#: corpus size. The pass below compiles 120 distinct classes whatever the
#: size (120 instances too); under Spark's default cache, 92 of them
#: compile again on every repeat.
INSTANCES = 30


def _compiles(spark) -> int:
    """Janino compiles of generated classes in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _batch_pass(spark, root: str, out: str, cid: str) -> None:
    """Heuristics refresh from a fresh results dir, triples, pairs, one
    lookup and one drain."""
    from fireball_data_processing_spark.dataset import FireballDataset
    from fireball_data_processing_spark.sources import sinks

    ds = FireballDataset(spark, root, results_dir=os.path.join(out, "results"))
    ds.heuristics()
    triples = os.path.join(out, "triples")
    workloads.distill(ds.events_df()).write.parquet(triples)
    sinks.write_jsonl(workloads.training_pairs(spark.read.parquet(triples)),
                      os.path.join(out, "pairs"))
    ds.events(cid).collect()
    assert sum(chunk.count("\n") for chunk in ds.stream_events(cid)) > 0


def test_get_spark_sizes_the_codegen_cache(spark):
    entries = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert entries is not None and int(entries) > 100


def test_repeated_batch_pass_compiles_nothing(spark, tmp_path):
    root = str(tmp_path / "corpus")
    corpus.generate(root, 1, INSTANCES)
    cid = "inst0003"
    _batch_pass(spark, root, str(tmp_path / "first"), cid)
    before = _compiles(spark)
    _batch_pass(spark, root, str(tmp_path / "second"), cid)
    assert _compiles(spark) - before == 0
