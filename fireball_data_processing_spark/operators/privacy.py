"""Privacy-release auditing: k-anonymity / l-diversity equivalence-class
audits (Sweeney 2002; Machanavajjhala et al. 2006) and a deterministic
seeded-Laplace mechanism for differentially-private count releases
(Dwork et al. 2006).

These complete the privacy pillar next to the scrubbing/anonymization
surface (``functions/pii.py``, ``functions/ids.py`` — the Spark form of
the reference's author anonymization, reference
``distill2_authors.py:34-61``): scrubbing removes DIRECT identifiers,
but a release is still linkable through quasi-identifier combinations,
which is exactly what the k-anonymity audit measures before data leaves
the pipeline, and what the Laplace mechanism bounds for aggregate
releases.

Scale notes:
- ``k_anonymity_classes`` is one hash aggregate at quasi-identifier
  grain (map-side partial + one shuffle on the QI key); the class table
  is |distinct QI| rows, tiny relative to the corpus, and the bucketed
  audit summary is a second aggregate over THAT table (constant-size
  output), so the data-proportional work is a single grouped pass.
- ``laplace_noise`` is a pure Column expression (md5 -> 48-bit uniform
  -> inverse CDF), whole-stage-codegen'd JVM-side — no Python, no
  state. Seeding the noise from the CELL KEY makes the release
  reproducible across engines and replays, which is what lets a DuckDB
  statement replay the mechanism bit-for-bit; a production release
  would swap the salt for a secret per-release nonce (one string), the
  mechanism and plan shape are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "k_anonymity_classes",
    "k_anonymity_audit",
    "laplace_noise",
]

# 16^12 = 2^48: the md5-prefix uniform's denominator. 48 bits keeps the
# integer exact in a DOUBLE (53-bit mantissa) in BOTH engines.
_U48 = float(1 << 48)
# ln() guard for the single lattice point where 1 - 2*|u - 0.5| is
# exactly ZERO (u = 0, probability 2^-48 per cell); every other lattice
# point is already >= 2^-47 (at u = 2^-48), so the floor never engages
# off that one cell. Floor value 2^-48 caps |noise| at b * 48 ln 2,
# identically in Spark and DuckDB.
_MAG_FLOOR = 1.0 / _U48


def k_anonymity_classes(
    df: DataFrame, quasi_cols: list[str | Column], sensitive_col: str | Column
) -> DataFrame:
    """Equivalence classes of a release under the given quasi-identifier
    columns: one row per distinct QI tuple with ``k`` (class size — the
    k-anonymity parameter) and ``l`` (distinct sensitive values — the
    l-diversity parameter). One grouped aggregation; the QI columns may
    be expressions (e.g. a banded numeric)."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count_distinct(
            F.col(sensitive_col) if isinstance(sensitive_col, str) else sensitive_col
        )
        .cast("bigint")
        .alias("l"),
    )


# (label, sort key, upper bound inclusive or None) — the audit histogram's
# class-size bands: singletons are re-identified outright, 2-4 are weak,
# 5-9 borderline, 10+ is the conventional release floor.
_K_BANDS = [("1", 1, 1), ("2-4", 2, 4), ("5-9", 3, 9), ("10+", 4, None)]


def k_anonymity_audit(classes: DataFrame) -> DataFrame:
    """Bucketed audit summary over a ``k_anonymity_classes`` frame:
    per class-size band, how many classes and released rows fall in it,
    the worst and average l-diversity, and the band's share of the
    release — the table a privacy reviewer reads to decide suppression
    / wider banding before sign-off. Input is class-grain (small); both
    aggregates here are constant-size."""
    bucket = F.lit(_K_BANDS[-1][0])
    order = F.lit(_K_BANDS[-1][1])
    for label, key, hi in reversed(_K_BANDS[:-1]):
        bucket = F.when(F.col("k") <= hi, F.lit(label)).otherwise(bucket)
        order = F.when(F.col("k") <= hi, F.lit(key)).otherwise(order)
    b = classes.select(
        bucket.alias("k_bucket"),
        order.cast("bigint").alias("bucket_order"),
        "k",
        "l",
    )
    agg = b.groupBy("k_bucket", "bucket_order").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("l").cast("bigint").alias("min_l"),
        F.round(F.avg(F.col("l").cast("double")), 6).alias("avg_l"),
    )
    w = Window.partitionBy()  # 4-row frame: the single-partition window is free
    return agg.select(
        "k_bucket",
        "bucket_order",
        "n_classes",
        "n_rows",
        "min_l",
        "avg_l",
        F.round(
            F.col("n_rows").cast("double") / F.sum("n_rows").over(w), 6
        ).alias("pct_rows"),
    ).orderBy("bucket_order")


def laplace_noise(
    cell_key: Column, epsilon: float = 1.0, sensitivity: float = 1.0,
) -> Column:
    """Deterministic Laplace(b = sensitivity/epsilon) noise seeded from
    the cell key: u = first 12 md5 hex digits of ``dp#key`` as a
    48-bit uniform in [0, 1), then the standard inverse CDF
    ``-b * sign(u - 1/2) * ln(1 - 2*|u - 1/2|)``. Pure built-in
    expression (md5 / conv / ln) built on the catalog's one canonical
    seed-to-uniform primitive (``operators/sampling.py hash_rank``, at
    its 48-bit width), so the mechanism replays exactly in any engine
    with md5 — the DuckDB form is
    ``CAST(CONCAT('0x', substr(md5(..), 1, 12)) AS UBIGINT)`` over the
    same key string. A NULL cell key yields NULL noise (``concat`` and
    SQL ``||`` both propagate), matching the oracle's NULL semantics —
    callers that must cover NULL cells coalesce the key components to a
    sentinel in BOTH engines (see ``dp_event_count_release``)."""
    from fireball_data_processing_spark.operators.sampling import hash_rank

    u = hash_rank(F.concat(F.lit("dp#"), cell_key), hex_digits=12)
    c = u - F.lit(0.5)
    mag = F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(c), F.lit(_MAG_FLOOR))
    return (
        F.lit(-(sensitivity / epsilon)) * F.signum(c) * F.log(mag)
    )
