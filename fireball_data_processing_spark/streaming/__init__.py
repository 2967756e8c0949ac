"""Structured Streaming surface (SURVEY.md section 2.9): the two ingest
capstones (``capstone``) and the pieces they compose — the connector seam
(``sources_stream.open_event_stream``), the exact and near-duplicate gates
(``dedup_stream``), the LM quality gate (``quality_stream``) and the
exactly-once epoch sink (``sinks_stream``)."""

from fireball_data_processing_spark.streaming.quality_stream import (
    corpus_lm_index,
    quality_gate,
    score_against_lm,
)
from fireball_data_processing_spark.streaming.sources_stream import (
    open_event_stream,
)

__all__ = [
    "corpus_lm_index",
    "open_event_stream",
    "quality_gate",
    "score_against_lm",
]
