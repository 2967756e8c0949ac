"""F18: discord-markdown stripping + profanity censoring.

The reference renders discord-flavored markdown to HTML for the human-eval
Qualtrics export (``human_eval/discord_render.py:15-79``: markdown2 with
discord-specific regexes — ``__x__`` is underline, not strong) and censors
the final text against a profanity word list with ``-`` as the censor
character (``human_eval/prep_human_eval.py:211-215``).

The pipeline half is reproduced as JVM-side Column expressions
(regexp_replace chains, whole-stage codegen, oracle-able in any SQL
engine): :func:`strip_markdown` for the plain-text form and
:func:`censor_words` for the censored one.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: default censor list for the synthetic corpus (the reference loads its
#: list from profanity.txt, prep_human_eval.py:213-214)
CENSOR_WORDS = ("damn", "hell")


def strip_markdown(c: Column) -> Column:
    """Discord-markdown STRIP to plain text (marker removal, content kept)
    as a JVM-side regexp_replace chain — the pipeline-safe half of F18."""
    out = F.regexp_replace(c, r"```", "")
    out = F.regexp_replace(out, r"~~(.+?)~~", r"$1")
    out = F.regexp_replace(out, r"\*\*(.+?)\*\*", r"$1")
    out = F.regexp_replace(out, r"__(.+?)__", r"$1")
    out = F.regexp_replace(out, r"\*(.+?)\*", r"$1")
    out = F.regexp_replace(out, r"_(.+?)_", r"$1")
    out = F.regexp_replace(out, r"`([^`]*)`", r"$1")
    return out


def censor_words(c: Column) -> Column:
    """Profanity mask: each listed word (case-insensitive, word-bounded)
    becomes censor-chars of the same length, as the reference's
    ProfanityFilter with ``set_censor("-")`` does."""
    out = c
    for w in CENSOR_WORDS:
        out = F.regexp_replace(out, r"(?i)\b" + re.escape(w) + r"\b", "-" * len(w))
    return out
