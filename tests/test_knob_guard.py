"""Guards against code no workload runs, both pure AST (no Spark).

Knob creep: every defaulted parameter of a package function must be set
by some non-test call in the repo, or it is a constant dressed up as an
option. Calls are read from the package, ``scripts/``, ``bench.py``,
``fbbench/`` and ``__spark_entry__.py`` and matched to definitions by
name; ``tests/`` does not count, since a parameter only a test sets
selects code no workload runs. A class call counts as a call to its
``__init__``; a call with ``*args`` or ``**kwargs`` sets every parameter;
``functools.partial(f, ...)`` counts as a call to ``f``.

Reach: every top-level package function or class must be reached from
the same caller roots, ``tests/`` again not counted. Roots are every use
in the non-package callers, the package's module-level code, and the
functions the ``@query``/``@register_heuristic`` registries hold. A use
is a name, an attribute, or a string literal equal to the name (a
``tracer.instrument(module, "name", ...)`` target); imports and
``__all__`` lists are not uses, so an ``__init__.py`` re-export reaches
nothing. Reach is transitive: what only an unreached function uses is
unreached too.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE_NAME = "fireball_data_processing_spark"


def caller_roots(root: Path) -> list[Path]:
    """The files and directories whose calls count, under a repo root."""
    return [root / PACKAGE_NAME, root / "scripts", root / "fbbench",
            root / "bench.py", root / "__spark_entry__.py"]


# Kept as options on purpose although no call sets them, each documented
# in README "API notes": deployment settings (paths, Spark master) and an
# escape hatch.
DOCUMENTED_UNSET = {
    ("session.py", "get_spark", "master"): "Spark master of the deployment",
    ("operators/similarity.py", "build_ivf_index", "path"):
        "where a path-backed index is written",
    ("operators/setjoin.py", "set_similarity_join", "checkpoint_dir"):
        "reliable-checkpoint directory for the iterative join",
}

# Top-level package functions and classes kept although no caller root
# reaches them, each with its reason. At most 5.
UNREACHED_ALLOWED: dict[tuple[str, str], str] = {}

# Decorators that register the function they wrap: a registered query or
# heuristic is reached through its registry.
REGISTRIES = ("query", "register_heuristic")


def _py_files(paths):
    for p in paths:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _defaulted_params(tree):
    """(call name, qualname, param, positional index or None) for every
    defaulted parameter; the index skips ``self``/``cls`` of methods."""
    out = []

    def visit(node, prefix, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, prefix + child.name + ".", child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                pos = a.posonlyargs + a.args
                skip = 1 if in_class and pos and pos[0].arg in ("self", "cls") else 0
                first = len(pos) - len(a.defaults)
                name = in_class if child.name == "__init__" else child.name
                for i, arg in enumerate(pos):
                    if i >= first:
                        out.append((name, prefix + child.name, arg.arg, i - skip))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((name, prefix + child.name, arg.arg, None))
                visit(child, prefix + child.name + ".", None)

    visit(tree, "", None)
    return out


def _callee(func):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(tree):
    """(callee name, n positional, keyword names, sets everything)."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name, args = _callee(node.func), node.args
        if name == "partial" and args:
            name, args = _callee(args[0]), args[1:]
        if name is None:
            continue
        star = any(isinstance(a, ast.Starred) for a in args) or any(
            k.arg is None for k in node.keywords
        )
        yield name, len(args), {k.arg for k in node.keywords}, star


def unset_defaulted_params(package: Path, callers: list[Path]):
    """(file relative to ``package``, qualname, parameter) for every
    defaulted parameter of ``package`` that no call under ``callers``
    sets."""
    set_kw: dict[str, set[str]] = {}
    max_pos: dict[str, int] = {}
    star: set[str] = set()
    for f in _py_files(callers):
        for name, n_pos, kws, has_star in _calls(ast.parse(f.read_text())):
            set_kw.setdefault(name, set()).update(kws)
            max_pos[name] = max(max_pos.get(name, 0), n_pos)
            if has_star:
                star.add(name)
    unset = set()
    for f in _py_files([package]):
        rel = f.relative_to(package).as_posix()
        for name, qual, param, idx in _defaulted_params(ast.parse(f.read_text())):
            if name in star or param in set_kw.get(name, ()):
                continue
            if idx is not None and max_pos.get(name, 0) > idx:
                continue
            unset.add((rel, qual, param))
    return unset


def _is_all(stmt):
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _uses(nodes):
    """Names, attributes and string literals under ``nodes``; imports and
    ``__all__`` assignments are skipped."""
    out = set()
    stack = list(nodes)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)) or _is_all(node):
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _registered(node):
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if _callee(f) in REGISTRIES:
            return True
    return False


def unreached_definitions(package: Path, callers: list[Path]):
    """(file relative to ``package``, name) for every top-level function
    or class of ``package`` that no caller root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for f in _py_files([package]):
        tree = ast.parse(f.read_text())
        rel = f.relative_to(package).as_posix()
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((rel, stmt))
                roots |= _uses(stmt.decorator_list)
                if _registered(stmt):
                    roots.add(stmt.name)
            else:
                roots |= _uses([stmt])
    for f in _py_files([c for c in callers if c != package]):
        roots |= _uses([ast.parse(f.read_text())])
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in _uses([node]) if n in defs and n not in reached)
    return {
        (rel, name)
        for name, sites in defs.items()
        if name not in reached
        for rel, _ in sites
    }


def test_reach_scan_reports_what_only_tests_or_dead_code_reach(tmp_path):
    pkg = tmp_path / PACKAGE_NAME
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from pkg.mod import tested_only\n\n__all__ = ['tested_only']\n"
    )
    (pkg / "mod.py").write_text(
        "def tested_only():\n    return 1\n\n"
        "def dead():\n    return behind_dead()\n\n"
        "def behind_dead():\n    return 2\n\n"
        "@query('q', None)\ndef registered(spark):\n    return 3\n\n"
        "def instrumented():\n    return 4\n"
    )
    (tmp_path / "fbbench").mkdir()
    (tmp_path / "fbbench" / "run.py").write_text(
        "from pkg import mod\n\n"
        "tracer.instrument(mod, 'instrumented', 'span', 'layer')\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from pkg.mod import tested_only\n\n"
        "def test_it():\n    assert tested_only() == 1\n"
    )
    assert unreached_definitions(pkg, caller_roots(tmp_path)) == {
        ("mod.py", "tested_only"),
        ("mod.py", "dead"),
        ("mod.py", "behind_dead"),
    }


def test_every_package_definition_is_reached():
    assert len(UNREACHED_ALLOWED) <= 5
    unreached = unreached_definitions(ROOT / PACKAGE_NAME, caller_roots(ROOT))
    assert unreached == set(UNREACHED_ALLOWED)


def test_scan_reports_a_parameter_only_a_test_sets(tmp_path):
    pkg = tmp_path / PACKAGE_NAME
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def f(x, knob=1, used=2):\n    return x\n\n"
        "def g():\n    return f(0, used=3)\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from pkg.mod import f\n\ndef test_f():\n    f(0, knob=5)\n"
    )
    assert unset_defaulted_params(pkg, caller_roots(tmp_path)) == {
        ("mod.py", "f", "knob")
    }


def test_every_defaulted_parameter_has_a_caller():
    unset = unset_defaulted_params(ROOT / PACKAGE_NAME, caller_roots(ROOT))
    assert unset == set(DOCUMENTED_UNSET)
