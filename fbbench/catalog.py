"""Seeded catalog tables and the catalog workload's query membership.

``generate`` writes the tables the member queries read (``documents``,
``embeddings`` and ``events``) as parquet, with the schemas, row counts and
value ranges of the project's sf0.1 test data, drawn from a seed.
``check_oracles`` compares each member's result with its registered DuckDB
oracle (``queries.oracle_sql()``) over the same files, the way
``scripts/drive_contract.py`` does.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The membership is copied here, not imported from bench.py, so that an edit
# there cannot change this workload. Groups: a legacy headline query that
# spends most of its time in driver-side build, the exact-gate streaming
# capstone, and a ROADMAP hot path outside the headline (~40 fixed-cost jobs).
HEADLINE = ("kmeans_cluster_profile",)
CAPSTONE = ("streaming_ingest_pipeline",)
HOTPATH = ("dawid_skene_labels",)
MEMBERS = HEADLINE + CAPSTONE + HOTPATH
#: the tables the members read
TABLES = ("documents", "embeddings", "events")

_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = 1_704_067_200 * 1_000_000


def _documents(rng, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    texts = [" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)) for k in n_words]
    # near duplicates: every 20th document repeats an earlier one plus a token
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    # a few exact duplicates
    for i in range(7, n, max(n // 8, 9)):
        texts[i] = texts[i - 1]
    lang = rng.choice(_LANGS, n, p=(0.41, 0.15, 0.15, 0.15, 0.14))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.normal(0, 1, (n, 64)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype("int32"),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(ts.astype("int64"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The member tables at scale factor ``sf``; sizes follow the test data
    (documents and embeddings stay at 500 rows below sf0.1)."""
    rng = np.random.default_rng(seed)
    k = sf / 0.1
    n_docs, n_emb = (5000, 2000) if sf >= 0.1 else (500, 500)
    return {
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
        "events": _events(rng, int(100000 * k), max(int(1500 * k), 15)),
    }


def generate(out: str, seed: int, sf: float) -> dict:
    """Write the tables as ``<out>/<table>.parquet``; return their size."""
    os.makedirs(out, exist_ok=True)
    n_bytes = n_rows = 0
    for name, t in tables(seed, sf).items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        n_bytes += os.path.getsize(path)
        n_rows += t.num_rows
    return {"bytes": n_bytes, "files": len(TABLES), "rows": n_rows}


def _same(got, want) -> tuple[bool, str]:
    """Row count, column names and every value after sorting (NaN == NaN)."""
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    cols = sorted(got.columns)
    g = got.reindex(cols, axis=1).sort_values(by=cols, ignore_index=True)
    w = want.reindex(cols, axis=1).sort_values(by=cols, ignore_index=True)
    for c in cols:
        for a, b in zip(g[c].tolist(), w[c].tolist()):
            if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            if a != b:
                return False, f"{c}: {a!r} != {b!r}"
    return True, ""


def check_oracles(results: dict, data_dir: str) -> dict[str, str]:
    """Compare each query's collected pandas result with its DuckDB oracle
    over the same files. Returns ``{query: reason}`` for every mismatch."""
    import duckdb

    from fireball_data_processing_spark import queries as catalog

    oracles = catalog.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = {}
        for name, got in results.items():
            if name not in oracles:
                bad[name] = "no registered oracle"
                continue
            ok, why = _same(got, con.execute(oracles[name]).fetchdf())
            if not ok:
                bad[name] = why
        return bad
    finally:
        con.close()
