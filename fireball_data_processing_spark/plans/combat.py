"""Combat-state aggregations (SURVEY.md A6/A8/A9/A17).

The reference walks ``combat_state_update.data.combatants`` per instance,
flattening ``type == 'group'`` combatants one level
(``heuristics/zhu.py:49-95``) and collecting the DM set
(``distill2_authors.py:40-45``). Spark form: explode the combatant array,
explode the one-level group nesting, then distinct-aggregate — all
columnar, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def actor_stats(states: DataFrame) -> DataFrame:
    """Per-instance actor statistics over state updates.

    Input rows: one per combat_state_update with ``combatants:
    array<struct<id, ctype, inner: array<struct<id, ctype>>>>``.

    Output: ``num_actors`` (A6), ``num_monster_actors`` (A8),
    ``num_player_actors``, ``player_to_monster_ratio`` (A9 with the
    reference's sentinel 255 when no monsters), ``n_dms`` (A17).
    """
    ex = states.select(
        F.col("combat_id"), F.col("dm"), F.explode("combatants").alias("c")
    )
    # flatten type='group' one level (zhu.py:53-59); non-groups contribute
    # themselves
    units = ex.select(
        F.col("combat_id"),
        F.col("dm"),
        F.explode(
            F.when(F.col("c.ctype") == "group", F.col("c.inner")).otherwise(
                F.array(
                    F.struct(
                        F.col("c.id").alias("id"), F.col("c.ctype").alias("ctype")
                    )
                )
            )
        ).alias("u"),
    )
    players = F.countDistinct(F.when(F.col("u.ctype") == "player", F.col("u.id")))
    monsters = F.countDistinct(F.when(F.col("u.ctype") == "monster", F.col("u.id")))
    return units.groupBy("combat_id").agg(
        F.countDistinct("u.id").alias("num_actors"),
        monsters.alias("num_monster_actors"),
        players.alias("num_player_actors"),
        # A9: sentinel 255.0 when no monsters (reference zhu.py:86-95)
        F.when(monsters == 0, F.lit(255.0))
        .otherwise(players.cast("double") / monsters.cast("double"))
        .alias("player_to_monster_ratio"),
        F.countDistinct("dm").alias("n_dms"),
    )
