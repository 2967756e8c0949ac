"""Text normalization functions (SURVEY.md section 2.7, F1-F8, F11, F15).

All pure Column expressions (regexp_replace / concat / when chains); the
reference implements these with Python ``re`` per event, here they run in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(c: Column) -> Column:
    """Canonical form shared by every content-hashing operator (exact
    dedup, MinHash shingles, SimHash, fingerprints, rolling hash, corpus
    checksum): lowercase, collapse whitespace runs, trim. ONE definition —
    these hashes are asserted mutually consistent by the oracle suite."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def strip_parentheticals(c: Column) -> Column:
    """F1 (reference distill3a_ic_regex.py:34-36,45): remove OOC asides."""
    return F.regexp_replace(c, r"\(.*?\)", "")


def strip_mentions(c: Column) -> Column:
    """F2 (reference distill4_normalize.py:340): Discord user/role/channel
    mentions."""
    return F.regexp_replace(c, r"<(@[!&]?|#)\d{17,20}>", "")


def normalize_emoji(c: Column) -> Column:
    """F3 (reference distill4_normalize.py:343): custom emoji -> :name:."""
    return F.regexp_replace(c, r"<a?(:\w+?:)\d{17,20}>", r"$1")


def normalize_prefix(content: Column, prefix: Column) -> Column:
    """F4 (reference distill4_normalize.py:357): replace the leading command
    prefix with '!' (first occurrence only, anchored); non-command content
    passes through."""
    return F.when(
        content.startswith(prefix),
        F.concat(
            F.lit("!"),
            content.substr(F.length(prefix) + 1, F.length(content)),
        ),
    ).otherwise(content)


def word_count(c: Column) -> Column:
    """F6 (reference heuristics/ratio.py:24): ``' '``-split word count —
    runs of spaces yield empty words, exactly like the reference."""
    return F.size(F.split(c, " "))


def truncate_words(c: Column, n: int = 200) -> Column:
    """F7 (reference distill3b_ic_classifier_gpt.py:44-45): keep the first
    ``n`` ' '-split words."""
    return F.array_join(F.slice(F.split(c, " "), 1, n), " ")


def substitute_snippet(
    content: Column, snippet_name: Column, content_after: Column
) -> Column:
    """F5 (reference distill4_normalize.py:359-371): replace the first word
    equal to ``snippet_name`` with ``content_after``.

    The reference shlex-splits (``argsplit``); quoted arguments differ from
    plain ' '-splitting there. This Column form uses ' '-split semantics
    (exact for unquoted commands — the overwhelming case).
    """
    words = F.split(content, " ")
    pos = F.array_position(words, snippet_name)  # 1-based, 0 = not found
    replaced = F.concat_ws(
        " ",
        F.concat(
            F.slice(words, 1, (pos - 1).cast("int")),
            F.array(content_after),
            F.when(
                pos < F.size(words),
                F.slice(words, (pos + 1).cast("int"), F.size(words)),
            ).otherwise(F.array().cast("array<string>")),
        ),
    )
    return F.when(pos > 0, replaced).otherwise(content)


def hp_band(hp: Column, max_hp: Column, temp_hp: Column) -> Column:
    """F11 (reference distill4_normalize.py:166-190), exact edge behavior:
    the numeric '<hp/max HP>' core renders whenever both are present even
    if max_hp == 0 (the band suffix needs max_hp > 0), '<hp HP>' when only
    hp is set, and the ' (+N temp)' suffix appends even to an empty HP
    string — the reference's result is '' (not null) when nothing is
    known."""
    ratio = hp.cast("double") / max_hp.cast("double")
    band = (
        F.when(ratio >= 1.0, F.lit("Healthy"))
        .when(ratio > 0.5, F.lit("Injured"))
        .when(ratio > 0.15, F.lit("Bloodied"))
        .when(ratio > 0.0, F.lit("Critical"))
        .otherwise(F.lit("Dead"))
    )
    core = (
        F.when(
            hp.isNotNull() & max_hp.isNotNull(),
            F.when(
                max_hp > 0, F.format_string("<%d/%d HP; %s>", hp, max_hp, band)
            ).otherwise(F.format_string("<%d/%d HP>", hp, max_hp)),
        )
        .when(hp.isNotNull(), F.format_string("<%d HP>", hp))
        .otherwise(F.lit(""))
    )
    return F.when(
        F.coalesce(temp_hp, F.lit(0)) > 0,
        F.concat(core, F.format_string(" (+%d temp)", temp_hp)),
    ).otherwise(core)


def caster_id(
    owner_id: Column, character_id: Column, owner: Column, upstream: Column,
    fallback_id: Column,
) -> Column:
    """F15 (reference distill2_authors.py:47-52): coalesce of composite ids."""
    a = F.when(
        owner_id.isNotNull() & character_id.isNotNull(),
        F.concat_ws("-", owner_id, character_id),
    )
    b = F.when(
        owner.isNotNull() & upstream.isNotNull(), F.concat_ws("-", owner, upstream)
    )
    return F.coalesce(a, b, fallback_id)
