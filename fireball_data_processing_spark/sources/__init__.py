"""Sources & sinks (SURVEY.md section 2.1, S1-S14)."""

from fireball_data_processing_spark.sources.tables import TABLES, load_table
from fireball_data_processing_spark.sources.events import load_event_stream, with_instance_and_seq

__all__ = [
    "TABLES",
    "load_table",
    "load_event_stream",
    "with_instance_and_seq",
]
