"""Guard against copied oracle SQL: a multi-line CTE body that two
oracles in ``queries.py`` share is written once, as a module constant
joined in with ``+``, so a change to it (the tokenizer contract, the
MinHash scheme) is made in one place.

The scan is pure AST (no Spark). It reads every string literal in
``queries.py``, including the constant parts of f-strings, finds each
CTE (``WITH name AS (``, ``, name AS (`` or a literal opening with
``name AS (``) and takes its body up to the matching parenthesis. A body
counts when it spans lines; bodies compare with each line stripped and
blank lines dropped, and the CTE name is ignored.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

QUERIES = (
    Path(__file__).resolve().parent.parent
    / "fireball_data_processing_spark"
    / "queries.py"
)

_CTE_HEAD = re.compile(
    r"(?:^|\bWITH(?:\s+RECURSIVE)?|,)\s*(\w+)(?:\s*\([\w\s,]*\))?\s+AS\s*\(",
    re.I,
)


def _string_literals(tree):
    """(line, text) of every str constant, f-string parts included."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.lineno, node.value


def _cte_bodies(text):
    """(name, normalized body) of every multi-line CTE in ``text``."""
    for m in _CTE_HEAD.finditer(text):
        depth, j = 1, m.end()
        while j < len(text) and depth:
            depth += {"(": 1, ")": -1}.get(text[j], 0)
            j += 1
        body = text[m.end():j - 1]
        if depth or "\n" not in body:
            continue
        lines = [ln.strip() for ln in body.splitlines()]
        yield m.group(1), "\n".join(ln for ln in lines if ln)


def _duplicated_bodies(source):
    where = defaultdict(list)
    for line, text in _string_literals(ast.parse(source)):
        for name, body in _cte_bodies(text):
            where[body].append(f"{name}@{line}")
    return {body: sites for body, sites in where.items() if len(sites) > 1}


def test_scan_finds_a_copied_cte():
    copy = '"""\nWITH words AS (\n  SELECT doc_id,\n    w\n  FROM documents\n)\nSELECT 1\n"""'
    source = f"A = {copy}\nB = f{copy}\nC = '''x AS (SELECT 1)'''\nD = '''x AS (SELECT 1)'''\n"
    dups = _duplicated_bodies(source)
    assert [[site.split("@")[0] for site in sites] for sites in dups.values()] == [
        ["words", "words"]
    ]


def test_no_oracle_cte_is_written_twice():
    dups = _duplicated_bodies(QUERIES.read_text())
    report = "\n".join(
        f"{', '.join(sites)}: {body.splitlines()[0]}"
        for body, sites in sorted(dups.items(), key=lambda kv: kv[1])
    )
    assert not dups, (
        f"{len(dups)} multi-line CTE bodies are written more than once in "
        f"queries.py; make each a module constant:\n{report}"
    )
