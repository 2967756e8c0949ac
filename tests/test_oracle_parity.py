"""Replicates the driver's t2 gate locally: for every catalog query with an
oracle, run the Spark plan and the DuckDB SQL side by side at sf0.01 and
compare row count, column names, and values (columns sorted by name, rows
sorted, NaN==NaN) — stricter than a hash, so a pass here should imply a
driver-side hash match."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from fireball_data_processing_spark import queries as catalog

# Every oracle query vs DuckDB at sf0.01 takes ~850 s (the PCA-trajectory
# oracles alone 100–190 s each) and duplicates scripts/drive_contract.py,
# so all but a few cheap smoke cases are marked slow (`-m slow` runs them).
# The smoke cases cover the oracles whose float rounding has broken
# before: the heuristics mean-time average (synthetic and FIREBALL roles)
# and the Dawid-Skene posterior.
SMOKE_QUERIES = ("heuristics_matrix", "dawid_skene_labels", "fb_heuristics_small")

ORACLE_QUERIES = [
    n if n in SMOKE_QUERIES else pytest.param(n, marks=pytest.mark.slow)
    for n, s in catalog.REGISTRY.items()
    if s.oracle is not None
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = catalog.REGISTRY[name]
    got = spec.fn(spark, sf_dir).toPandas()
    want = duck.execute(spec.oracle).fetchdf()

    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    g, w = _canon(got), _canon(want)
    # pandas NaN-vs-None normalization: compare cell-wise
    mism = []
    for col in g.columns:
        gv, wv = g[col].tolist(), w[col].tolist()
        for i, (a, b) in enumerate(zip(gv, wv)):
            a = None if (isinstance(a, float) and math.isnan(a)) else a
            b = None if (isinstance(b, float) and math.isnan(b)) else b
            if not _values_equal(a, b):
                mism.append((col, i, a, b))
                if len(mism) > 5:
                    break
        if len(mism) > 5:
            break
    assert not mism, f"{name}: value mismatches (col,row,spark,duckdb): {mism[:5]}"
