"""Structured Streaming surface (SURVEY.md section 2.9)."""

from fireball_data_processing_spark.streaming.heuristics_stream import (
    stream_heuristics,
)
from fireball_data_processing_spark.streaming.quality_stream import (
    corpus_lm_index,
    quality_gate,
    score_against_lm,
    stream_quality_gate,
)
from fireball_data_processing_spark.streaming.cusum_stream import (
    cusum_monitor,
    stream_rate_deltas,
)
from fireball_data_processing_spark.streaming.decay_stream import (
    decayed_weight_to_ref,
    read_decayed,
    stream_decay_deltas,
)
from fireball_data_processing_spark.streaming.seqtest_stream import (
    sprt_monitor,
    stream_sprt_deltas,
)
from fireball_data_processing_spark.streaming.quantile_stream import (
    histogram_buckets,
    read_stream_quantiles,
    stream_histogram_sink,
)
from fireball_data_processing_spark.streaming.sources_stream import (
    open_event_stream,
)

__all__ = [
    "corpus_lm_index",
    "cusum_monitor",
    "decayed_weight_to_ref",
    "histogram_buckets",
    "open_event_stream",
    "quality_gate",
    "read_decayed",
    "read_stream_quantiles",
    "score_against_lm",
    "sprt_monitor",
    "stream_heuristics",
    "stream_histogram_sink",
    "stream_decay_deltas",
    "stream_rate_deltas",
    "stream_quality_gate",
    "stream_sprt_deltas",
]
