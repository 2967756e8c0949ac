"""Logical plans: heuristics suite, distill pipeline stages, corpus stats."""

from fireball_data_processing_spark.plans.heuristics import (
    HEURISTICS,
    heuristic_exprs,
    heuristics_matrix,
    with_stream_features,
)

__all__ = [
    "HEURISTICS",
    "heuristic_exprs",
    "heuristics_matrix",
    "with_stream_features",
]
