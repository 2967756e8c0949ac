"""Row-level predicates (SURVEY.md section 2.2, P1-P11).

Each is a pure Column expression — Catalyst can push every one of these
down to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from fireball_data_processing_spark.schema import AVRAE_ID

# P2: the reference's command prefixes (heuristics/utils.py:13-17).
COMMAND_PREFIX_RE = r"^(!|\$|%|\^|&|/|\]|a!|<)"


def is_bot_message(author_id: Column, author_bot: Column) -> Column:
    """P1 (reference heuristics/utils.py:8-10): Avrae itself or any bot
    author; author_bot is nullable (tested via .get in the reference)."""
    return (author_id == F.lit(AVRAE_ID)) | F.coalesce(author_bot, F.lit(False))


def is_command_invocation(content: Column) -> Column:
    """P2 (reference heuristics/utils.py:13-17)."""
    return content.rlike(COMMAND_PREFIX_RE)


def is_ooc(content: Column) -> Column:
    """P8 rule-based out-of-character (reference
    distill3b_ic_classifier_gpt.py:38-42): blank, contains OOC/OOG, or
    starts with '('. """
    t = F.trim(content)
    return (
        (t == "")
        | t.contains("OOC")
        | t.contains("OOG")
        | t.startswith("(")
    )
