"""Inline literal fixtures, rendered to BOTH Spark DataFrames and DuckDB
VALUES clauses (FIXTURES.md section 8: shapes the driver tables can't
express are built inline, mirrored into the oracle).

Keep every fixture tiny and deterministic; they exist to pin the exact
reference semantics (band boundaries, coalesce order, regex behavior), not
to exercise scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _ddl_names(ddl_schema: str) -> list[str]:
    """The column names of a DDL schema string, in order; commas inside
    ``<...>`` type parameters do not split columns."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(ddl_schema + ","):
        depth += {"<": 1, ">": -1}.get(ch, 0)
        if ch == "," and depth == 0:
            names.append(ddl_schema[start:i].split()[0])
            start = i + 1
    return names


def values_sql(rows: list[tuple], ddl_schema: str) -> str:
    """Render rows as ``(VALUES ...) AS t(c1, c2, ...)`` for DuckDB, the
    column names taken from the fixture's DDL schema."""
    body = ",\n    ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    cols = ", ".join(_ddl_names(ddl_schema))
    return f"(VALUES\n    {body}\n) AS t({cols})"


def spark_df(
    spark: SparkSession, rows: list[tuple], ddl_schema: str
) -> DataFrame:
    return spark.createDataFrame(rows, schema=ddl_schema)


# ---------------------------------------------------------------------
# F11 HP banding fixture: every band boundary from the reference
# (distill4_normalize.py:166-190) incl. temp-HP and null/zero max_hp.
# ---------------------------------------------------------------------
HP_ROWS = [
    ("full", 20, 20, 0),
    ("over", 25, 20, 0),
    ("injured_hi", 19, 20, 0),
    ("injured_lo", 11, 20, 0),
    ("bloodied_hi", 10, 20, 0),
    ("bloodied_lo", 4, 20, 0),
    ("critical_hi", 3, 20, 0),
    ("critical_lo", 1, 20, 0),
    ("dead", 0, 20, 0),
    ("negative", -5, 20, 0),
    ("temped", 10, 20, 7),
    ("no_max", 10, None, 0),
    ("zero_max", 10, 0, 0),
    ("null_hp", None, 20, 0),
    ("temp_only", None, None, 5),
    ("temped_no_max", 10, None, 3),
]
HP_SCHEMA = "name string, hp int, max_hp int, temp_hp int"

# ---------------------------------------------------------------------
# F18 discord-markdown + profanity fixture (human_eval/discord_render.py
# :15-79, prep_human_eval.py:211-215): every marker the reference's
# discord-flavored patterns handle, HP-band tokens, censor words in
# mixed case, empty and null content.
# ---------------------------------------------------------------------
RENDER_ROWS = [
    ("bold", "a **mighty** blow"),
    ("underline", "stand __firm__ now"),
    ("em_star", "a *sharp* blade"),
    ("em_underscore", "move _quietly_ ahead"),
    ("strike", "~~missed~~ landed"),
    ("code", "try `init next` now"),
    ("fence", "```\nroll 1d20\n```"),
    ("band", "the goblin is <Bloodied> badly"),
    ("profane1", "that damn goblin"),
    ("profane2", "what the HELL was that"),
    ("mixed", "**bold** and _em_ with `code` damn it"),
    ("empty", ""),
    ("nothing", None),
]
RENDER_SCHEMA = "id string, content string"

# ---------------------------------------------------------------------
# F15 caster-id coalesce fixture (distill2_authors.py:47-52)
# ---------------------------------------------------------------------
CASTER_ROWS = [
    ("both_composite", "o1", "c1", "ow", "up", "fallback"),
    ("first_only", "o1", "c1", None, "up", "fallback"),
    ("second_only", None, "c1", "ow", "up", "fallback"),
    ("second_partial", None, None, "ow", None, "fallback"),
    ("fallback_only", None, None, None, None, "fb2"),
    ("owner_no_char", "o9", None, "ow", "up", "fb3"),
]
CASTER_SCHEMA = (
    "name string, owner_id string, character_id string, owner string, "
    "upstream string, fallback_id string"
)

# ---------------------------------------------------------------------
# P2/P8/F1/F2/F3/F4/F6 content fixture: command prefixes, OOC markers,
# parentheticals, mentions, emoji, multi-space runs (FIXTURES.md section 1)
# ---------------------------------------------------------------------
CONTENT_ROWS = [
    (1, "!attack goblin", "!"),
    (2, "$cast fireball", "$"),
    (3, "a!init next", "a!"),
    (4, "<@12345678901234567> hello there", "!"),
    (5, "plain narrative text", "!"),
    (6, "(ooc whisper) the rogue hides", "!"),
    (7, "OOC: brb in five", "!"),
    (8, "totally OOG comment", "!"),
    (9, "   ", "!"),
    (10, "", "!"),
    (11, "watch  the   double  spaces", "!"),
    (12, "custom emoji <a:wave:12345678901234567890> here", "!"),
    (13, "role ping <@&123456789012345678> and channel <#12345678901234567>", "!"),
    (14, "]snippet style", "]"),
    (15, "%roll d20", "%"),
    (16, "not(a full) paren (two) groups", "!"),
    (17, "+prefix attack", "+prefix "),
]
CONTENT_SCHEMA = "id int, content string, prefix string"

# ---------------------------------------------------------------------
# F9 author anonymization fixture: first-appearance ordering incl. a bot
# (scripts/anonymize.py:89-101)
# ---------------------------------------------------------------------
AUTHOR_ROWS = [
    ("i1", 1, "u_alice", False),
    ("i1", 2, "261302296103747584", True),
    ("i1", 3, "u_bob", False),
    ("i1", 4, "u_alice", False),
    ("i1", 5, "u_carol", False),
    ("i1", 6, "u_bob", False),
    ("i2", 1, "u_zed", False),
    ("i2", 2, "u_alice", False),
]
AUTHOR_SCHEMA = "instance_id string, seq int, author_id string, author_bot boolean"

# ---------------------------------------------------------------------
# A17/A18 triples fixture: DM sets and the single-caster constraint
# (distill2_authors.py:40-45, 72-84; FIXTURES.md section 5)
# ---------------------------------------------------------------------
TRIPLE_ROWS = [
    ("i1", 1, "dm9", "u1-c1"),
    ("i1", 1, "dm9", "u1-c1"),
    ("i1", 2, "dm9", "u1-c1"),
    ("i1", 2, "dm9", "u2-c2"),
    ("i2", 1, "dm7", "u3-c3"),
    ("i2", 2, "dm8", None),
]
TRIPLE_SCHEMA = "instance_id string, triple_id int, dm string, caster_id string"

# ---------------------------------------------------------------------
# FIREBALL-schema mini event stream (heuristics parity on the real roles:
# message/command, author bots, init join/next, float epoch ts)
# ---------------------------------------------------------------------
FB_EVENT_ROWS = [
    # inst, seq, type, ts, author, bot, content, command_name
    ("c1", 1, "message", 100.0, "alice", False, "we should flank the troll", None),
    ("c1", 2, "message", 101.5, "bob", False, "agreed  go left", None),
    ("c1", 3, "command", 103.0, "alice", False, "!init join", "init join"),
    ("c1", 4, "automation_run", 103.5, None, None, None, None),
    ("c1", 5, "combat_state_update", 104.0, None, None, None, None),
    ("c1", 6, "message", 110.0, "261302296103747584", True, "Avrae says hi", None),
    ("c1", 7, "command", 111.0, "bob", False, "!attack troll", "attack"),
    ("c1", 8, "command", 112.0, "alice", False, "!init next", "init next"),
    ("c1", 9, "message", 115.0, "carol", False, "nice hit", None),
    ("c2", 1, "command", 200.0, "dave", False, "!init join", "init join"),
    ("c2", 2, "command", 201.0, "dave", False, "!init next", "init next"),
    ("c3", 1, "message", 300.0, "erin", False, "anyone here", None),
    ("c3", 2, "message", 301.0, "erin", False, "hello hello hello", None),
    ("c4", 1, "combat_state_update", 400.0, None, None, None, None),
]
FB_EVENT_SCHEMA = (
    "combat_id string, seq int, event_type string, timestamp double, "
    "author_id string, author_bot boolean, content string, command_name string"
)

# ---------------------------------------------------------------------
# J7 embed-finding fixture (distill4_normalize.py:289-309): for an
# automation run, the first later bot message with empty content, exactly
# one embed, and title containing the caster OR field names covering the
# targets.
# ---------------------------------------------------------------------
EMBED_ROWS = [
    # (combat_id, seq, event_type, author_bot, content, caster_name,
    #  targets, embed_title, embed_field_names, n_embeds)
    ("e1", 1, "automation_run", None, None, "Korga", ["Goblin A", "Goblin B"], None, None, None),
    ("e1", 2, "message", False, "chatter", None, None, None, None, 0),
    ("e1", 3, "message", True, "", None, None, "Korga attacks!", ["Goblin A"], 1),
    ("e1", 4, "message", True, "", None, None, "misc", ["Goblin A", "Goblin B"], 1),
    ("e2", 1, "automation_run", None, None, "Mira", ["Troll"], None, None, None),
    ("e2", 2, "message", True, "not empty", None, None, "Mira casts", ["Troll"], 1),
    ("e2", 3, "message", True, "", None, None, "two embeds", ["Troll"], 2),
    ("e2", 4, "message", True, "", None, None, "unrelated", ["Orc"], 1),
    ("e2", 5, "message", True, "", None, None, "fields cover", ["Troll", "Extra"], 1),
    ("e3", 1, "automation_run", None, None, "Zed", ["X"], None, None, None),
]
EMBED_SCHEMA = (
    "combat_id string, seq int, event_type string, author_bot boolean, "
    "content string, caster_name string, targets array<string>, "
    "embed_title string, embed_field_names array<string>, n_embeds int"
)


def embed_values_sql() -> str:
    def arr(xs):
        if xs is None:
            return "CAST(NULL AS VARCHAR[])"
        return "[" + ", ".join("'%s'" % x for x in xs) + "]"

    rows = ",\n    ".join(
        "(%s)"
        % ", ".join(
            [
                _sql_literal(r[0]), _sql_literal(r[1]), _sql_literal(r[2]),
                _sql_literal(r[3]), _sql_literal(r[4]), _sql_literal(r[5]),
                arr(r[6]), _sql_literal(r[7]), arr(r[8]), _sql_literal(r[9]),
            ]
        )
        for r in EMBED_ROWS
    )
    cols = ", ".join(_ddl_names(EMBED_SCHEMA))
    return "(VALUES\n    " + rows + f"\n) AS t({cols})"


# ---------------------------------------------------------------------
# J8 tupper similar-message fixture (distill4_normalize.py:316-337):
# within the next 16 events, a different-author bot message whose content
# is contained in this content with length ratio in (0.7, 1.0).
# ---------------------------------------------------------------------
TUPPER_ROWS = [
    ("t1", 1, "alice", False, "Korga the barbarian swings the mighty axe"),
    ("t1", 2, "tupperbot", True, "the barbarian swings the mighty axe"),  # ratio .85 contained -> match for seq1
    ("t1", 3, "bob", False, "a completely different story unfolds here"),
    ("t1", 4, "tupperbot", True, "different story"),  # ratio .37 too short
    ("t1", 5, "carol", False, "short msg"),
    ("t1", 6, "carol", True, "short msg"),  # ratio 1.0 excluded (not < 1.0)
    ("t2", 1, "dave", False, "the wizard prepares a spell of binding"),
    ("t2", 18, "tupperbot", True, "wizard prepares a spell of binding"),  # beyond 16-event window
]
TUPPER_SCHEMA = (
    "combat_id string, seq int, author_id string, author_bot boolean, "
    "content string"
)

# ---------------------------------------------------------------------
# J1/F19/F20 labels fixture (regression/load_data.py:14-24): human labels
# joined to features; fillna(-1), greatest/least of the label pair.
# ---------------------------------------------------------------------
LABEL_ROWS = [
    (0, 1.0, 0.0),
    (1, 0.0, 0.0),
    (2, 1.0, 1.0),
    (3, None, 1.0),
    (4, None, None),
    (99999, 1.0, 1.0),  # unknown instance: inner join drops it
]
LABEL_SCHEMA = "user_id bigint, rp_label double, cmd_label double"

# ---------------------------------------------------------------------
# F5 snippet substitution fixture (distill4_normalize.py:359-371)
# ---------------------------------------------------------------------
SNIPPET_ROWS = [
    (1, "!cast fireball target", "fireball", "fireball -i -l 5"),
    (2, "!a sword goblin", "sword", 'attack "longsword" -adv'),
    (3, "!init next", "missing", "whatever"),
    (4, "!x first first", "first", "REPL"),  # only the first hit replaced
    (5, "trailing word", "word", "sub"),
]
SNIPPET_SCHEMA = "id int, content string, snippet_name string, content_after string"

# ---------------------------------------------------------------------
# F12/F13 normalized-actor fixture (FIXTURES.md section 3; reference
# distill4_normalize.py:192-203, prompts.py:6-50)
# ---------------------------------------------------------------------
ACTOR_ROWS = [
    ("Korga", "Half-Orc", "Barbarian 5", "<15/20 HP; Injured>", "Raging",
     "Greataxe, Javelin", "", "Rage, Reckless Attack", "A towering half-orc."),
    ("Mira", None, "Wizard 3", "<8/8 HP; Healthy>", "",
     "Dagger", "Fire Bolt, Shield, Fireball", None, None),
    ("Goblin A", "Goblin", None, "<0/7 HP; Dead>", "Prone",
     "Scimitar", "", None, "A small green menace."),
    ("Mystery", None, None, None, None, None, None, None, None),
]
ACTOR_SCHEMA = (
    "name string, race string, cls string, hp_str string, effects string, "
    "attacks string, spells string, actions string, description string"
)

# ---------------------------------------------------------------------
# F14 automation_result trees (FIXTURES.md section 4): every node type,
# depth >= 3, stored as JSON strings.
# ---------------------------------------------------------------------
import json as _json

AUTOMATION_TREES = [
    ("attack_hit", {
        "type": "root", "children": [
            {"type": "target", "results": [
                {"type": "target_iteration", "target_index": 0, "results": [
                    {"type": "attack", "did_hit": True, "did_crit": False,
                     "children": [{"type": "damage", "amount": 7}]},
                ]},
            ]},
        ],
    }),
    ("attack_crit", {
        "type": "root", "children": [
            {"type": "target_iteration", "target_index": 1, "results": [
                {"type": "attack", "did_hit": True, "did_crit": True,
                 "children": [{"type": "damage", "amount": 14}]},
            ]},
        ],
    }),
    ("save_spell", {
        "type": "root", "children": [
            {"type": "spell", "children": [
                {"type": "condition", "children": [
                    {"type": "target_iteration", "target_index": 0, "results": [
                        {"type": "save", "ability": "dexteritySave", "did_save": False,
                         "children": [{"type": "damage", "amount": 28}]},
                    ]},
                ]},
            ]},
        ],
    }),
    ("heal_self", {
        "type": "root", "children": [
            {"type": "target_iteration", "target_type": "self", "results": [
                {"type": "damage", "amount": -9},
                {"type": "temphp", "amount": 5},
            ]},
        ],
    }),
    ("effects", {
        "type": "root", "children": [
            {"type": "ieffect", "effect": "Blessed"},
            {"type": "remove_ieffect", "effect": "Poisoned"},
        ],
    }),
    ("check_contest", {
        "type": "root", "children": [
            {"type": "check", "skill_name": "Athletics",
             "contest_skill_name": "Acrobatics"},
            {"type": "check", "skill_name": "Stealth"},
        ],
    }),
    ("null_tree", None),
]
AUTOMATION_ROWS = [
    (name, _json.dumps(tree) if tree is not None else None)
    for name, tree in AUTOMATION_TREES
]
AUTOMATION_SCHEMA = "name string, automation_result string"

# ---------------------------------------------------------------------
# Multimodal media fixture: opaque binary + mime metadata
# ---------------------------------------------------------------------
MEDIA_ROWS = [
    (1, "image/png", bytearray(b"\x89PNG fake bytes 0001")),
    (2, "image/jpeg", bytearray(b"\xff\xd8 fake jpeg 2")),
    (3, "audio/wav", bytearray(b"RIFF fake wav 3333")),
    (4, "video/mp4", bytearray(b"\x00\x00 ftyp fake mp4")),
]

# ---------------------------------------------------------------------
# A6/A8/A9/A17 combat-state fixture: group combatants nesting one level
# (heuristics/zhu.py:49-95; FIXTURES.md section 2)
# ---------------------------------------------------------------------
COMBAT_ROWS = [
    ("c1", 1, "dm1", [
        ("p1", "player", []),
        ("g1", "group", [("m1", "monster"), ("m2", "monster")]),
        ("npc1", "common", []),
    ]),
    ("c1", 2, "dm1", [
        ("p1", "player", []),
        ("p2", "player", []),
        ("g1", "group", [("m2", "monster"), ("m3", "monster")]),
    ]),
    ("c1", 3, "dm2", [  # DM handoff (A17 multi-DM)
        ("p1", "player", []),
    ]),
    ("c2", 1, "dm3", [  # no monsters -> A9 sentinel 255
        ("p9", "player", []),
        ("p10", "player", []),
    ]),
    ("c3", 1, "dm4", [
        ("m9", "monster", []),
    ]),
]
COMBAT_SPARK_SCHEMA = (
    "combat_id string, update_seq int, dm string, "
    "combatants array<struct<id:string,ctype:string,"
    "inner:array<struct<id:string,ctype:string>>>>"
)


def combat_values_sql() -> str:
    """DuckDB VALUES rendering of COMBAT_ROWS with struct/list literals."""

    def unit(u):
        return "{'id': '%s', 'ctype': '%s'}" % (u[0], u[1])

    def comb(c):
        inner = "[" + ", ".join(unit(u) for u in c[2]) + "]"
        return "{'id': '%s', 'ctype': '%s', 'inner': %s}" % (c[0], c[1], inner)

    rows = ",\n    ".join(
        "('%s', %d, '%s', [%s])"
        % (cid, seq, dm, ", ".join(comb(c) for c in combs))
        for cid, seq, dm, combs in COMBAT_ROWS
    )
    return (
        "(VALUES\n    " + rows + "\n) AS t(combat_id, update_seq, dm, combatants)"
    )


# ---------------------------------------------------------------------
# PII scrub fixture: every pattern kind, adjacency/order interactions,
# clean text, empty and null content.
# ---------------------------------------------------------------------
PII_ROWS = [
    (1, "contact me at alice.smith+spam@example.co.uk or bob@test.io"),
    (2, "call 555-123-4567 or 555.987.6543 after 5pm"),
    (3, "server at 192.168.1.254 and 10.0.0.1 went down"),
    (4, "mixed: eve@corp.com, 212-555-0123, host 8.8.8.8"),
    (5, "no pii here, just words and numbers like 12345 and 3.14"),
    (6, "version 1.2.3.4 of the parser"),  # ipv4-shaped version string
    (7, ""),
    (8, None),
]
PII_SCHEMA = "id int, content string"
