"""Seeded FIREBALL-shaped corpus in the Firehose layout.

The corpus is a directory of instance directories, each holding several
gzipped JSONL chunk files (``<root>/<instance>/chunk-NNNN.jsonl.gz``), the
layout ``sources.events.load_event_stream`` reads. What it contains:

- The shape of the probe corpus the benchmark was designed from (275k
  events in 1,500 instances and 1,692 chunk files): about 183 events and
  1.13 chunk files per instance at any instance count. Sizes are
  Zipf-skewed over rank, so a few instances hold far more events than the
  median.
- Each combat turn is a group of player messages, a command, an Avrae
  automation run and a combat state update. The last three share the
  command's message id as correlation id.
- Message ids are Discord snowflakes (above 2^53). Avrae's own messages carry
  its bot author id.
- Message texts have parentheticals, OOC markers, mentions, custom emoji and
  runs of spaces.
- One instance has no commands and one has no messages.
- A few chunks are corrupt gzip. The engine skips them, so ``truth``
  leaves their events out.

``generate`` returns the truth the correctness checks compare against: per
instance the event, message, command and triple counts and a digest of the
event order. The same seed gives byte-identical files.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random

AVRAE_ID = "261302296103747584"
SNOWFLAKE_BASE = 1_000_000_000_000_000_000  # > 2**53, like Discord ids
EPOCH = 1_650_000_000.0
#: mean combat turns per instance; a turn averages 6 events, so ~183 events
MEAN_TURNS = 30
#: Zipf exponent of instance size over size rank
ZIPF_S = 0.8
#: events per chunk file; with the sizes above, ~1.13 files per instance
CHUNK_EVENTS = 500
#: share of the chunks after an instance's first that are corrupt (at least 2)
CORRUPT_SHARE = 0.03

WORDS = (
    "the goblin rushes forward and swings its rusty blade at you while the "
    "torchlight flickers across the damp cavern walls I duck behind the "
    "pillar and ready my bow we need to push through before the ogre wakes "
    "she casts a quick ward over the party then steps back into the shadows"
).split()
COMMANDS = (
    ("attack", "!attack {t}"),
    ("cast", "!cast fireball -t {t}"),
    ("init next", "!init next"),
    ("check", "!check perception"),
    ("save", "!save dex"),
)
PREFIXES = ("!", "!", "!", "$", "a!")
TARGETS = ("goblin", "ogre", "GO1", "bandit captain", "wolf")


def _snowflake(rng: random.Random, counter: list[int]) -> int:
    counter[0] += rng.randint(1, 5000)
    return SNOWFLAKE_BASE + counter[0]


def _utterance(rng: random.Random) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randint(3, 40))]
    text = " ".join(words)
    roll = rng.random()
    if roll < 0.15:
        text += f" ({rng.choice(WORDS)} {rng.choice(WORDS)})"
    elif roll < 0.22:
        text = "OOC: " + text
    elif roll < 0.27:
        text = f"<@{SNOWFLAKE_BASE + rng.randint(0, 10**9)}>  " + text
    elif roll < 0.30:
        text += f" <:d20:{SNOWFLAKE_BASE + rng.randint(0, 10**9)}>"
    elif roll < 0.32:
        text = f"({text})"
    return text


def _combatants(rng: random.Random, players: list[str]) -> list[dict]:
    out = []
    for i, p in enumerate(players):
        max_hp = rng.choice((12, 24, 40, 0))
        out.append({
            "name": f"hero{i}", "controller_id": int(p), "init": rng.randint(1, 20),
            "index": i, "type": "player", "id": f"c{i}", "max_hp": max_hp,
            "hp": rng.randint(-2, max_hp) if max_hp else None, "temp_hp": rng.choice((0, 0, 5)),
        })
    out.append({
        "name": "goblins", "type": "group", "id": "g0", "index": len(players),
        "combatants": [{"id": "m0", "type": "monster", "controller_id": 0, "name": "GO1"}],
    })
    return out


def _turn(rng, cid, ts, counter, players, dm, shape) -> tuple[list[dict], float]:
    """One combat turn: utterances, then (unless the instance has no
    commands) a command with its correlated automation run, bot reply and
    state update."""
    events = []
    n_msgs = 0 if shape == "no_messages" else rng.randint(0, 4)
    for _ in range(n_msgs):
        ts += rng.uniform(1.0, 40.0)
        author = rng.choice(players + [dm])
        events.append({
            "combat_id": cid, "event_type": "message", "timestamp": round(ts, 3),
            "message_id": _snowflake(rng, counter), "author_id": author,
            "author_name": f"user{author[-4:]}", "author_bot": False,
            "content": _utterance(rng),
        })
    if shape == "no_commands":
        return events, ts
    ts += rng.uniform(1.0, 20.0)
    author = rng.choice(players)
    name, template = rng.choice(COMMANDS)
    prefix = rng.choice(PREFIXES)
    target = rng.choice(TARGETS)
    corr = _snowflake(rng, counter)
    events.append({
        "combat_id": cid, "event_type": "command", "timestamp": round(ts, 3),
        "message_id": corr, "author_id": author, "author_name": f"user{author[-4:]}",
        "author_bot": False, "prefix": prefix, "command_name": name,
        "content": prefix + template.format(t=target)[1:], "called_by_alias": rng.random() < 0.1,
        "caster": json.dumps({"name": f"hero{players.index(author)}", "owner_id": author}),
        "targets": json.dumps([target, {"name": target, "hp": "<10/15 HP; Injured>"}]),
    })
    ts += rng.uniform(0.1, 1.0)
    events.append({
        "combat_id": cid, "event_type": "automation_run", "timestamp": round(ts, 3),
        "interaction_id": corr, "automation_result": json.dumps({
            "type": "root", "children": [{"type": "target", "results": [
                {"type": "attack", "did_hit": rng.random() < 0.6, "did_crit": False,
                 "children": [{"type": "damage", "damage": rng.randint(-3, 30)}]}]}]}),
    })
    ts += rng.uniform(0.1, 1.0)
    if shape != "no_messages":
        events.append({
            "combat_id": cid, "event_type": "message", "timestamp": round(ts, 3),
            "message_id": _snowflake(rng, counter), "author_id": AVRAE_ID,
            "author_name": "Avrae", "author_bot": True,
            "content": f"{target} takes {rng.randint(1, 30)} damage.",
        })
    ts += rng.uniform(0.1, 1.0)
    events.append({
        "combat_id": cid, "event_type": "combat_state_update", "timestamp": round(ts, 3),
        "probable_interaction_id": corr,
        "data": {"dm": int(dm), "turn": rng.randint(1, 20), "round": rng.randint(1, 9),
                 "current": rng.choice((None, 0, 1)), "combatants": _combatants(rng, players)},
        "human_readable": f"Round {rng.randint(1, 9)}",
    })
    return events, ts


def instance_events(rng: random.Random, cid: str, n_turns: int, shape: str = "normal",
                    ts: float = EPOCH) -> list[dict]:
    counter = [rng.randint(0, 10**6)]
    players = [str(SNOWFLAKE_BASE + rng.randint(0, 10**12)) for _ in range(rng.randint(2, 5))]
    dm = str(SNOWFLAKE_BASE + rng.randint(0, 10**12))
    events: list[dict] = []
    for _ in range(n_turns):
        turn, ts = _turn(rng, cid, ts, counter, players, dm, shape)
        events.extend(turn)
    return events


def gz_bytes(lines: list[str]) -> bytes:
    """Deterministic gzip: fixed mtime and no embedded file name."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, filename="", compresslevel=6) as f:
        f.write(("\n".join(lines) + "\n").encode())
    return buf.getvalue()


def order_digest(events: list[dict]) -> str:
    """Digest of an instance's event order, comparable with engine rows."""
    h = hashlib.md5()
    for e in events:
        h.update(f"{e['event_type']}:{e['timestamp']!r}|".encode())
    return h.hexdigest()


def summarize(events: list[dict]) -> dict:
    types = [e["event_type"] for e in events]
    return {
        "events": len(events),
        "messages": types.count("message"),
        "commands": types.count("command"),
        # one triple per command anchor (plans.distill.assemble_triples)
        "triples": types.count("command"),
        "order": order_digest(events),
    }


def generate(out: str, seed: int, n_instances: int) -> dict:
    """Write the corpus under ``out``. Returns the per-instance truth and the
    corpus size."""
    rng = random.Random(seed)
    # Zipf sizes, the same for every seed: the instance of rank r has about
    # top * r**-ZIPF_S turns, with top set so the mean is MEAN_TURNS
    top = MEAN_TURNS * n_instances / sum(r ** -ZIPF_S for r in range(1, n_instances + 1))
    chunks: dict[str, list[list[dict]]] = {}
    for i in range(n_instances):
        cid = f"inst{i:04d}"
        shape = {n_instances - 1: "no_commands", n_instances - 2: "no_messages"}.get(i, "normal")
        n_turns = max(2, round(top / (i + 1) ** ZIPF_S))
        events = instance_events(rng, cid, n_turns, shape, EPOCH + i * 86_400.0)
        chunks[cid] = _chunks(events)
    # a few corrupt chunks, never an instance's first
    eligible = [(cid, k) for cid, cs in chunks.items() for k in range(1, len(cs))]
    corrupt = set(rng.sample(eligible, min(len(eligible), max(2, round(CORRUPT_SHARE * len(eligible))))))
    truth: dict[str, dict] = {}
    n_files = n_bytes = 0
    for cid, cs in chunks.items():
        d = os.path.join(out, cid)
        os.makedirs(d, exist_ok=True)
        kept: list[dict] = []
        for k, chunk in enumerate(cs):
            if (cid, k) in corrupt:
                # not a gzip stream at all: the reader fails on the header,
                # before yielding a row, so the whole chunk is skipped
                data = b"corrupt-chunk" + rng.randbytes(64)
            else:
                data = gz_bytes([json.dumps(e) for e in chunk])
                kept.extend(chunk)
            with open(os.path.join(d, f"chunk-{k:04d}.jsonl.gz"), "wb") as f:
                f.write(data)
            n_files += 1
            n_bytes += len(data)
        truth[cid] = summarize(kept)
    return {
        "instances": truth,
        "size": {
            "bytes": n_bytes, "files": n_files, "corrupt_files": len(corrupt),
            "events": sum(t["events"] for t in truth.values()),
        },
    }


def _chunks(events: list[dict]) -> list[list[dict]]:
    return [events[c:c + CHUNK_EVENTS] for c in range(0, len(events), CHUNK_EVENTS)]


def add_instance(root: str, cid: str, seed: int) -> dict:
    """Write a newly arrived instance ``cid`` (a new Firehose directory) of
    ``MEAN_TURNS`` turns and return its truth."""
    rng = random.Random(f"{seed}:{cid}")
    events = instance_events(rng, cid, MEAN_TURNS, "normal", EPOCH + 1e7)
    d = os.path.join(root, cid)
    os.makedirs(d, exist_ok=True)
    for k, chunk in enumerate(_chunks(events)):
        with open(os.path.join(d, f"chunk-{k:04d}.jsonl.gz"), "wb") as f:
            f.write(gz_bytes([json.dumps(e) for e in chunk]))
    return summarize(events)


def file_digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
    return dict(sorted(out.items()))

