"""Package layout: every module is imported, directly or transitively, from
an entry point of the one parse -> enrich -> route -> aggregate job, or is
on an explicit keep list. Pure ``ast``, no Spark."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "opentelemetry_collector_contrib_spark"
PKG_DIR = os.path.join(ROOT, PKG)

# driver contract, spark-submit CLI, batch run, streaming run
ENTRY_FILES = [
    os.path.join(ROOT, "__spark_entry__.py"),
    os.path.join(PKG_DIR, "cli.py"),
    os.path.join(PKG_DIR, "plans", "pipeline.py"),
    os.path.join(PKG_DIR, "streaming", "pipeline.py"),
]

# unreached on purpose; each reason cites the north rule
KEEP_UNREACHED = {
    "sources.catalog": "north rule: 'over Iceberg tables' (per-sink catalog tables)",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name (relative to the package) -> file path."""
    mods = {}
    for dirpath, _, files in os.walk(PKG_DIR):
        rel = os.path.relpath(dirpath, PKG_DIR)
        parts = [] if rel == "." else rel.split(os.sep)
        for f in files:
            if f.endswith(".py"):
                stem = f[:-3]
                name = ".".join(parts if stem == "__init__" else parts + [stem])
                mods[name] = os.path.join(dirpath, f)
    return mods


def _imported(path: str, mods: dict[str, str]) -> set[str]:
    """Package modules named by the ``import`` and ``from ... import``
    statements anywhere in ``path`` (function-level imports included)."""
    here = os.path.relpath(path, PKG_DIR).split(os.sep)[:-1]  # its package
    out = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            bases = [a.name for a in node.names]
            names = [None]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - node.level + 1]
                bases = [".".join([PKG, *base, *([node.module] if node.module else [])])]
            else:
                bases = [node.module]
            names = [a.name for a in node.names]
        else:
            continue
        for base in bases:
            if base != PKG and not base.startswith(PKG + "."):
                continue
            mod = base[len(PKG) + 1:]
            for name in names:
                sub = f"{mod}.{name}".lstrip(".") if name else None
                if sub in mods:
                    out.add(sub)
                elif mod in mods:
                    out.add(mod)
    return out


def test_every_module_is_reached():
    mods = _package_modules()
    reached = {m for m in mods if os.path.basename(mods[m]) == "__init__.py"}
    todo = list(ENTRY_FILES)
    seen = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for m in _imported(path, mods):
            reached.add(m)
            todo.append(mods[m])
    entry_mods = {m for m, p in mods.items() if p in ENTRY_FILES}
    unreached = set(mods) - reached - entry_mods
    assert unreached == set(KEEP_UNREACHED), sorted(unreached ^ set(KEEP_UNREACHED))
