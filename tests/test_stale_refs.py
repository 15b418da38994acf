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

It also checks keyword names: a call ``mf.commit(txn=...)``, or
``commit(txn=...)`` after ``from sydradb_spark.manifest import commit``,
must pass only keywords in ``inspect.signature(commit)``, unless that takes
``**kwargs``. A script still passing a deleted option then fails here.
"""

from __future__ import annotations

import ast
import importlib
import inspect
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


def _bindings(tree: ast.AST):
    """The names ``tree`` binds to the modules: ``{alias: module}`` and
    ``{local name: (module, attribute)}`` for ``from module import name``,
    plus ``(module, attribute, line)`` for each such import."""
    aliases: dict[str, str] = {}  # local name → module
    imported: dict[str, tuple[str, str]] = {}  # local name → (module, attr)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full in MODULES:
                    aliases[a.asname or a.name] = full
                elif node.module in MODULES:
                    imported[a.asname or a.name] = (node.module, a.name)
                    out.append((node.module, a.name, node.lineno))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name in MODULES and a.asname:
                    aliases[a.asname] = a.name
    return aliases, imported, out


def _uses(tree: ast.AST) -> list[tuple[str, str, int]]:
    """(module, attribute, line) for every reference in ``tree``."""
    aliases, _, out = _bindings(tree)
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


def _keywords(tree: ast.AST) -> list[tuple[str, str, str, int]]:
    """(module, attribute, keyword, line) for every keyword argument of a
    call into the modules: ``mf.commit(txn=...)`` or, after ``from
    sydradb_spark.manifest import commit``, ``commit(txn=...)``."""
    aliases, imported, _ = _bindings(tree)
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            target = (aliases[f.value.id], f.attr) if f.value.id in aliases else None
        elif isinstance(f, ast.Name):
            target = imported.get(f.id)
        else:
            target = None
        if target is not None:
            out += [(*target, kw.arg, node.lineno) for kw in node.keywords if kw.arg]
    return out


def _bad_keywords(tree: ast.AST) -> list[tuple[str, str, str, int]]:
    """The keyword uses in ``tree`` the called function does not accept."""
    bad = []
    for mod, attr, kw, line in _keywords(tree):
        fn = getattr(importlib.import_module(mod), attr, None)
        try:
            params = inspect.signature(fn).parameters
        except (TypeError, ValueError):
            continue  # missing (the attribute check reports it) or opaque
        if kw not in params and not any(
            p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
        ):
            bad.append((mod, attr, kw, line))
    return bad


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


def test_no_stale_keyword_arguments():
    stale = [
        f"{p.relative_to(ROOT)}:{line}: {mod}.{attr}({kw}=...)"
        for p in _files()
        for mod, attr, kw, line in _bad_keywords(ast.parse(p.read_text(), str(p)))
    ]
    assert not stale, "\n".join(stale)


def test_keyword_check_flags_a_deleted_option():
    """The keyword check is not vacuous: a call passing an option the
    function does not take is flagged, in both call forms, and the
    accepted keywords are not."""
    snippet = (
        "from sydradb_spark.ingest import stream_points_sink\n"
        "from sydradb_spark import manifest as mf\n"
        "stream_points_sink(p, t, c, store=s, app_id='stream-x')\n"
        "mf.commit(t, files, txn=(a, 0), store=s, retries=3)\n"
    )
    assert _bad_keywords(ast.parse(snippet)) == [
        ("sydradb_spark.ingest", "stream_points_sink", "app_id", 3),
        ("sydradb_spark.manifest", "commit", "retries", 4),
    ]
