"""Z-order layout: Morton-code correctness vs a Python reference and the
actual data-skipping effect (per-file ranges narrow on BOTH columns)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators import zorder
from fireball_data_processing_spark.operators.zorder import (
    interleave_bits,
    z_value,
    zorder_write,
)
from fireball_data_processing_spark.sources.tables import load_table

SMOKE = "/root/testdata/sf0.001"


def _morton(xs: list[int], bits: int) -> int:
    out = 0
    n = len(xs)
    for i in range(bits):
        for j, x in enumerate(xs):
            out |= ((x >> i) & 1) << (i * n + j)
    return out


def test_interleave_matches_python(spark):
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", interleave_bits([F.col("x"), F.col("y")], 3).alias("z")
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton([x, y], 3), (x, y)
    # Z-codes over the full grid are a permutation of 0..63
    assert sorted(got.values()) == list(range(64))


def test_z_value_constant_column_is_safe(spark):
    df = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], ["a", "b"])
    rows = z_value(df, ["a", "b"]).collect()
    assert all(r["__z"] >= 0 for r in rows)
    # constant column contributes zero bits: order follows column a
    zs = {r.a: r["__z"] for r in rows}
    assert zs[1] < zs[2] < zs[3]


def test_zorder_write_narrows_per_file_ranges(spark, tmp_path, monkeypatch):
    ev = load_table(spark, SMOKE, "events").select("user_id", "event_id")
    out = str(tmp_path / "z")
    n_files = 8
    monkeypatch.setattr(zorder, "_N_FILES", n_files)
    zorder_write(ev, out, ["user_id", "event_id"])
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("user_id") - F.min("user_id")).alias("u_span"),
            (F.max("event_id") - F.min("event_id")).alias("e_span"),
        )
        .collect()
    )
    assert len(per_file) == n_files
    g = ev.agg(
        (F.max("user_id") - F.min("user_id")).alias("u"),
        (F.max("event_id") - F.min("event_id")).alias("e"),
    ).first()
    mean_u = sum(r.u_span for r in per_file) / len(per_file)
    mean_e = sum(r.e_span for r in per_file) / len(per_file)
    # clustered layout: the average file covers a strict sub-rectangle on
    # BOTH dimensions (a single-column sort would leave the other
    # dimension's span at ~full range in every file)
    assert mean_u <= 0.8 * g.u
    assert mean_e <= 0.8 * g.e
