"""Power-iteration PCA (operators/pca.py): known dominant axis,
variance-share sanity, partitioning invariance."""

from __future__ import annotations

import math


from fireball_data_processing_spark.operators.pca import power_iteration_pca


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(rows)],
        "vec_id bigint, embedding array<double>",
    )


def test_pca_single_axis_recovers_it_exactly(spark):
    # variance only on dim 1 (0-based 0): loading = +-e1, share = 1
    rows = [[float(i), 0.0, 0.0, 0.0] for i in range(-5, 6)]
    out = power_iteration_pca(_vecs(spark, rows), "embedding", dim=4).collect()
    loadings = [r["loading"] for r in out]
    assert abs(abs(loadings[0]) - 1.0) < 1e-5
    assert all(abs(l) < 1e-5 for l in loadings[1:])
    assert abs(out[0]["var_share"] - 1.0) < 1e-4


def test_pca_dominant_diagonal_axis(spark):
    # points along (1, 1)/sqrt(2) with tiny orthogonal jitter
    rows = []
    for i in range(-8, 9):
        rows.append([i + 0.01 * (i % 2), i - 0.01 * (i % 2), 0.0, 0.0])
    out = power_iteration_pca(
        _vecs(spark, rows), "embedding", dim=4, n_iter=12
    ).collect()
    l = [r["loading"] for r in out]
    s = 1.0 / math.sqrt(2.0)
    # same direction up to sign
    sign = 1.0 if l[0] > 0 else -1.0
    assert abs(l[0] - sign * s) < 0.01
    assert abs(l[1] - sign * s) < 0.01
    assert out[0]["var_share"] > 0.99


def test_pca_unit_norm_and_dim_labels(spark):
    rows = [[float((i * j) % 5) for j in range(4)] for i in range(20)]
    out = power_iteration_pca(_vecs(spark, rows), "embedding", dim=4).collect()
    assert [r["dim"] for r in out] == [1, 2, 3, 4]
    nrm = math.sqrt(sum(r["loading"] ** 2 for r in out))
    assert abs(nrm - 1.0) < 1e-4
    assert 0.0 < out[0]["var_share"] <= 1.0


def test_pca_partitioning_invariance(spark):
    rows = [
        [math.sin(i * 0.7), math.cos(i * 0.3), (i % 7) / 7.0, 0.5]
        for i in range(100)
    ]
    a = power_iteration_pca(
        _vecs(spark, rows).repartition(1), "embedding", dim=4
    ).collect()
    b = power_iteration_pca(
        _vecs(spark, rows).repartition(32), "embedding", dim=4
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pca_zero_variance_corpus_raises_descriptive(spark):
    # ADVICE r8: a constant corpus made every power iterate zero and
    # died with a bare ZeroDivisionError mid-iteration
    import pytest

    rows = [([1.0, 2.0, 3.0, 4.0],)] * 6
    df = spark.createDataFrame(rows, "embedding array<double>")
    with pytest.raises(ValueError, match="power iteration collapsed"):
        power_iteration_pca(df, "embedding", dim=4).collect()


def test_pca_dim_truncates_longer_vectors(spark):
    # review repro: dim smaller than the stored vectors must analyze
    # the leading dim coordinates (the column-form contract), not crash
    full = [([1.0, 0.0, 0.0, 0.0, 99.0],), ([2.0, 0.0, 0.0, 0.0, -7.0],),
            ([3.0, 0.0, 0.0, 0.0, 42.0],)]
    cut = [(r[0][:4],) for r in full]
    d_full = spark.createDataFrame(full, "embedding array<double>")
    d_cut = spark.createDataFrame(cut, "embedding array<double>")
    a = power_iteration_pca(d_full, "embedding", dim=4).collect()
    b = power_iteration_pca(d_cut, "embedding", dim=4).collect()
    assert a == b
