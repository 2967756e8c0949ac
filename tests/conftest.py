"""Shared fixtures: one local SparkSession + a DuckDB connection with the
synthetic tables registered as views (mirrors the driver's harness)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fireball_data_processing_spark.session import get_spark
from fireball_data_processing_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="fireball-spark-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def dequantize_embedding(codes: Column, vmin: Column, vmax: Column) -> Column:
    """Inverse of :func:`quantize_embedding`: ``x_hat_i = vmin + code_i*scale``."""
    scale = (vmax - vmin) / F.lit(255.0)
    return F.transform(codes, lambda q: vmin + q.cast("double") * scale)


@pytest.fixture(scope="session")
def dequantize():
    """The quantization round-trip reference, for tests to request."""
    return dequantize_embedding
