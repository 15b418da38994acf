"""Static check for stale references to the storage modules.

No linter runs here, and the test suite never imports ``scripts/``: a
renamed or deleted function in ``manifest`` / ``objectstore`` / ``storage``
/ ``rollup_stream`` / ``api`` / ``datafs`` / ``ingest`` / ``metrics`` /
``util`` would surface only when an operator runs a soak script or the
benchmark. This test parses (never imports or runs)
every Python file under ``sydradb_spark/``, ``scripts/`` and
``perfbench/``, plus ``bench.py`` and ``__spark_entry__.py``, finds the
names each file binds to those modules, and asserts that every attribute
it reads from them exists:

- ``mf.commit`` (an attribute of an import alias);
- ``from sydradb_spark.manifest import commit``;
- ``wrap(manifest, "commit")`` / ``setattr(mf, "commit", ...)`` — a call
  whose first argument is the module and second a string literal.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("sydradb_spark", "scripts", "perfbench")
SCANNED_FILES = ("bench.py", "__spark_entry__.py")
MODULES = (
    "sydradb_spark.api",
    "sydradb_spark.datafs",
    "sydradb_spark.ingest",
    "sydradb_spark.manifest",
    "sydradb_spark.metrics",
    "sydradb_spark.objectstore",
    "sydradb_spark.storage",
    "sydradb_spark.streaming.rollup_stream",
    "sydradb_spark.util",
)


def _uses(tree: ast.AST) -> list[tuple[str, str, int]]:
    """(module, attribute, line) for every reference in ``tree``."""
    aliases: dict[str, str] = {}  # local name → module
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full in MODULES:
                    aliases[a.asname or a.name] = full
                elif node.module in MODULES:
                    out.append((node.module, a.name, node.lineno))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name in MODULES and a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            out.append((aliases[node.value.id], node.attr, node.lineno))
        elif (
            isinstance(node, ast.Call)
            and len(node.args) >= 2
            and isinstance(node.args[0], ast.Name)
            and node.args[0].id in aliases
            and isinstance(node.args[1], ast.Constant)
            and isinstance(node.args[1].value, str)
        ):
            out.append((aliases[node.args[0].id], node.args[1].value, node.lineno))
    return out


def _files() -> list[Path]:
    return sorted(
        [p for d in SCANNED for p in (ROOT / d).rglob("*.py")]
        + [ROOT / f for f in SCANNED_FILES]
    )


def test_scan_finds_the_storage_modules():
    """The scan is not vacuous: the known call sites are seen."""
    seen = {
        (mod.rsplit(".", 1)[1], attr)
        for p in _files()
        for mod, attr, _ in _uses(ast.parse(p.read_text(), str(p)))
    }
    assert ("manifest", "commit") in seen  # storage's mf.commit, perfbench's wrap
    assert ("manifest", "read_files") in seen  # perfbench's bytes_per_point
    assert ("objectstore", "LocalFSObjectStore") in seen  # the CLI's --store-root


def test_no_stale_storage_references():
    stale = [
        f"{p.relative_to(ROOT)}:{line}: {mod}.{attr}"
        for p in _files()
        for mod, attr, line in _uses(ast.parse(p.read_text(), str(p)))
        if not hasattr(importlib.import_module(mod), attr)
    ]
    assert not stale, "\n".join(stale)
