"""Guard against copied Spark-side code: a chain of code lines that two
places in the package share is written once, as a helper in the module
that owns the batch form, and every copy calls it. This is the code-side
twin of ``test_oracle_fragments.py``, which guards the oracle CTEs.

The scan is pure AST (no Spark). It reads every ``.py`` file under
``fireball_data_processing_spark/`` and normalizes it to code lines:
blank lines, comment lines, trailing comments, import statements and
``def`` headers (from ``def`` to the line before the first body line) are
dropped; each string literal that spans lines becomes one token carrying
a hash of its text; runs of whitespace collapse to one space. A window of
``WINDOW`` consecutive normalized lines that appears twice, in one file
or in two, fails the test, unless every place it appears is inside a
function named by one allowlist entry.
"""

from __future__ import annotations

import ast
import hashlib
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "fireball_data_processing_spark"

WINDOW = 6

# Pairs that cannot share code without a helper branching on its caller:
# each key is a tuple of (path relative to the package, function name)
# whose common lines are let stand, each value the reason.
ALLOWED = {}


def _normalized_lines(source):
    """[(line number, function or "", normalized text)] of ``source``."""
    tree = ast.parse(source)
    # ast column offsets count UTF-8 bytes, so the lines are bytes too
    lines = [line.encode() for line in source.splitlines()]
    dropped, owner, starts = set(), {}, defaultdict(list)
    in_fstring = {
        id(part) for node in ast.walk(tree) if isinstance(node, ast.JoinedStr)
        for part in ast.walk(node) if part is not node
    }
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            dropped.update(range(node.lineno, node.end_lineno + 1))
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            dropped.update(range(node.lineno, node.body[0].lineno))
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
        elif (isinstance(node, ast.JoinedStr)
              or isinstance(node, ast.Constant) and isinstance(node.value, str)):
            if node.end_lineno > node.lineno and id(node) not in in_fstring:
                starts[node.lineno].append(node)

    comments = {}
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            comments[row] = len(tok.line[:col].encode())

    out = []
    ln = 1
    while ln <= len(lines):
        start, pos, pieces = ln, 0, []
        # a string may end on the line where the next one starts
        while nxt := min((n for n in starts[ln] if n.col_offset >= pos),
                         key=lambda n: n.col_offset, default=None):
            body = b"\n".join(
                [lines[ln - 1][nxt.col_offset:]]
                + lines[ln:nxt.end_lineno - 1]
                + [lines[nxt.end_lineno - 1][:nxt.end_col_offset]]
            )
            pieces += [lines[ln - 1][pos:nxt.col_offset],
                       f"<str:{hashlib.md5(body).hexdigest()[:12]}>".encode()]
            ln, pos = nxt.end_lineno, nxt.end_col_offset
        pieces.append(lines[ln - 1][pos:comments.get(ln)])
        ln += 1
        text = " ".join(b"".join(pieces).decode().split())
        if text and start not in dropped:
            out.append((start, owner.get(start, ""), text))
    return out


def duplicated_windows(sources, window=WINDOW):
    """{window text: [(path, line, function)]} for each window of
    ``window`` normalized lines found in more than one place."""
    where = defaultdict(list)
    for path, source in sources.items():
        lines = _normalized_lines(source)
        for i in range(len(lines) - window + 1):
            chunk = lines[i:i + window]
            key = "\n".join(text for _, _, text in chunk)
            where[key].append((path, chunk[0][0], chunk[0][1]))
    return {k: sites for k, sites in where.items() if len(sites) > 1}


def _allowed(sites):
    return any(all((p, fn) in pair for p, _, fn in sites) for pair in ALLOWED)


def _package_sources():
    return {
        str(p.relative_to(PACKAGE)): p.read_text()
        for p in sorted(PACKAGE.rglob("*.py"))
    }


def test_scan_finds_a_copied_chain():
    chain = "\n".join(f"    x{i} = y.withColumn('c{i}', F.col('c'))  # {i}" for i in range(6))
    doc = '    """one\n    two\n    """'
    a = f"import os\ndef f(a,\n      b):\n{doc}\n{chain}\n    return x5\n"
    b = (f"from os import path\n\ndef g(c):\n    # a comment\n{chain}\n"
         f"    return x5\n")
    c = f"def h():\n{doc}\n" + "\n".join(f"    z{i} = {i}" for i in range(5)) + "\n"
    d = f"def k():\n{doc}\n" + "\n".join(f"    z{i} = {i}" for i in range(5)) + "\n"
    e = 'S = """\n' + "\n".join(f"line {i}" for i in range(8)) + '\n"""\nT = 1\n'
    f = 'U = """\n' + "\n".join(f"line {i}" for i in range(8)) + '\n"""\nT = 2\n'
    dups = duplicated_windows({"a.py": a, "b.py": b, "c.py": c, "d.py": d,
                               "e.py": e, "f.py": f})
    # The chain plus ``return`` is 7 lines: two 6-line windows, each found
    # in f and in g; the docstring plus five lines of c/d is one window;
    # the two 8-line strings of e/f collapse to one token each, so their
    # identical text forms no window.
    assert sorted({(p, fn) for sites in dups.values() for p, _, fn in sites}) == [
        ("a.py", "f"), ("b.py", "g"), ("c.py", "h"), ("d.py", "k")
    ]
    assert len(dups) == 3
    # strings chained on one line collapse into that line, whatever their
    # text (non-ASCII included) and with the trailing comment dropped
    chained = 'Q = """\né\n""" + X + f"""\n{Y}\n"""  # c\nR = 1\n'
    got = [(ln, re.sub(r"<str:\w+>", "<str>", text))
           for ln, _, text in _normalized_lines(chained)]
    assert got == [(1, "Q = <str> + X + <str>"), (6, "R = 1")]


def test_allowlist_is_small_and_explained():
    assert len(ALLOWED) <= 5
    assert all(reason.strip() for reason in ALLOWED.values())


def test_no_spark_side_chain_is_written_twice():
    dups = {k: s for k, s in duplicated_windows(_package_sources()).items()
            if not _allowed(s)}
    report = "\n".join(
        f"{', '.join(f'{p}:{ln} ({fn})' for p, ln, fn in sites)}: {key.splitlines()[0]}"
        for key, sites in sorted(dups.items(), key=lambda kv: kv[1])
    )
    assert not dups, (
        f"{len(dups)} windows of {WINDOW} code lines are written more than once "
        f"in the package; make each a helper that every copy calls:\n{report}"
    )
