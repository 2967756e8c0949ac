"""fbbench's tracer wraps package functions by module attribute name
(``tracer.instrument(<module>, "<attr>", ...)``); a rename would crash
every traced bench run. This reads those calls with ``ast`` and checks
each attribute exists. No Spark session."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

WORKLOADS = Path(__file__).resolve().parent.parent / "fbbench" / "workloads.py"
PACKAGE = "fireball_data_processing_spark"


def instrumented_hooks() -> list[tuple[str, str]]:
    """(module, attribute) for every ``tracer.instrument`` call."""
    tree = ast.parse(WORKLOADS.read_text())
    modules = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            for alias in node.names:
                modules[alias.asname or alias.name] = f"{node.module}.{alias.name}"
    hooks = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "instrument"):
            module, attr = node.args[:2]
            hooks.append((modules[module.id], attr.value))
    return hooks


def test_every_traced_hook_exists():
    hooks = instrumented_hooks()
    assert (f"{PACKAGE}.dataset", "dataset_checksum") in hooks
    assert (f"{PACKAGE}.dataset", "load_event_stream") in hooks
    missing = [(m, a) for m, a in hooks if not hasattr(importlib.import_module(m), a)]
    assert not missing
