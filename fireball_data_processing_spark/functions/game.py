"""Game-state presentation functions (SURVEY.md F11/F12/F13).

``hp_band`` lives in :mod:`fireball_data_processing_spark.functions.text`.
Here: actor stringification (reference ``prompts.py:6-50``) and prompt
assembly (``prompts.py:55-103``) as pure concat expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def actor_short_str(
    name: Column, race: Column, cls: Column, hp_str: Column, effects: Column
) -> Column:
    """Short form ``Name (Race; Class) <HP> [Effects]`` with conditionally
    included parts (reference prompts.py:6-21). ``effects`` is a
    comma-joined string column (empty -> omitted)."""
    race_cls = F.when(
        race.isNotNull() & cls.isNotNull(),
        F.concat(F.lit("("), race, F.lit("; "), cls, F.lit(")")),
    ).when(race.isNotNull(), F.concat(F.lit("("), race, F.lit(")"))).when(
        cls.isNotNull(), F.concat(F.lit("("), cls, F.lit(")"))
    )
    eff = F.when(
        effects.isNotNull() & (effects != ""), F.concat(F.lit("["), effects, F.lit("]"))
    )
    parts = F.array(name, race_cls, hp_str, eff)
    return F.array_join(F.filter(parts, lambda p: p.isNotNull()), " ")


def actor_long_str(
    name: Column,
    cls: Column,
    race: Column,
    attacks: Column,
    spells: Column,
    actions: Column,
    effects: Column,
    description: Column,
) -> Column:
    """Long multi-line form (reference prompts.py:24-50): one ``Label: value``
    line per non-null field under a ``Name:`` header."""
    lines = F.array(
        F.concat(F.lit("Name: "), name),
        F.when(cls.isNotNull(), F.concat(F.lit("Class: "), cls)),
        F.when(race.isNotNull(), F.concat(F.lit("Race: "), race)),
        F.when(
            attacks.isNotNull() & (attacks != ""), F.concat(F.lit("Attacks: "), attacks)
        ),
        F.when(
            spells.isNotNull() & (spells != ""), F.concat(F.lit("Spells: "), spells)
        ),
        F.when(
            actions.isNotNull() & (actions != ""), F.concat(F.lit("Actions: "), actions)
        ),
        F.when(
            effects.isNotNull() & (effects != ""), F.concat(F.lit("Effects: "), effects)
        ),
        F.when(description.isNotNull(), F.concat(F.lit("Description: "), description)),
    )
    return F.array_join(F.filter(lines, lambda p: p.isNotNull()), "\n")


def assemble_prompt(*parts: Column) -> Column:
    """F13 (reference prompts.py:1-3,55-103): join non-null parts with blank
    lines and append the separator token."""
    arr = F.filter(F.array(*parts), lambda p: p.isNotNull() & (p != ""))
    return F.concat(F.array_join(arr, "\n\n"), F.lit("\n\n"), F.lit("<|asep|>"))
