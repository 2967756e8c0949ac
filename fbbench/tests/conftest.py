"""Tests for the benchmark's own code: ``python3 -m pytest fbbench/tests``."""

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    s = (SparkSession.builder.master("local[2]").appName("fbbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.local.dir", str(local))
         .config("spark.sql.warehouse.dir", str(local / "warehouse"))
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
