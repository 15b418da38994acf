"""Prometheus text-format metrics (reference handleMetrics,
src/sydra/http.zig:452-477).

The reference exposes process counters (queries served, points ingested,
storage size) in the exposition format. Here the counters are a small
process-local registry fed by the engine and ingest paths, plus storage
gauges read on demand from the table's manifest; ``to_prometheus_text()`` renders the standard
``# HELP`` / ``# TYPE`` / sample lines an unmodified Prometheus scraper
accepts. Serving them over HTTP is one `http.server` handler away — kept
out so the engine has no server dependency (SURVEY calls the sink
app-level; this module is the engine-side contract for it).
"""

from __future__ import annotations

import threading
from pathlib import Path

_LOCK = threading.Lock()
_COUNTERS: dict[str, float] = {}

_HELP = {
    "sydra_queries_total": "sydraQL statements executed",
    "sydra_query_errors_total": "statements rejected (parse/validate/translate)",
    "sydra_points_ingested_total": "points written through the ingest paths",
    "sydra_inserts_total": "INSERT statements executed",
    "sydra_deletes_total": "DELETE statements executed",
    "sydra_compat_queries_total": "pgwire/compat SQL statements received",
    "sydra_compat_translations_total": "compat statements translated to sydraQL",
    "sydra_compat_fallbacks_total": "compat statements answered 0A000",
    "sydra_compat_cache_hits_total": "compat translation cache hits",
    "sydra_compat_catalog_queries_total": "pg catalog introspection queries",
    "sydra_compat_statements_total": (
        "compat statements by statement class and outcome"
    ),
}


def inc(name: str, by: float = 1.0) -> None:
    with _LOCK:
        _COUNTERS[name] = _COUNTERS.get(name, 0.0) + by


def reset() -> None:
    """Test hook."""
    with _LOCK:
        _COUNTERS.clear()


def storage_gauges(
    path: str | None, version: int | None = None, store=None
) -> dict[str, float]:
    """On-demand storage gauges for a stored table — metadata-only, no data
    read. A manifested table reports manifest ``version`` (LATEST by
    default; the HTTP server passes the engine's served version): its
    number, live files, hour partitions and bytes. Files no version
    references — orphans, staged leftovers, files waiting for vacuum — are
    not counted. A pre-manifest table is its directory."""
    from sydradb_spark import datafs, storage
    from sydradb_spark import manifest as mf

    if not path:
        return {}
    local = datafs.local_path(path)
    if version is None:
        version = storage.table_version(path, store=store)
    if version is None:
        if local is None or not Path(local).exists():
            return {}
        files = storage.data_files(local)
    else:
        files = mf.read_files(path, version, store=store)
    out = {
        "sydra_storage_partitions": float(len({f.split("/", 1)[0] for f in files})),
        "sydra_storage_files": float(len(files)),
    }
    if version is not None:
        out["sydra_storage_version"] = float(version)
    if local is not None:
        root = Path(local)
        out["sydra_storage_bytes"] = float(
            sum((root / f).stat().st_size for f in files if (root / f).exists())
        )
    return out


def to_prometheus_text(
    storage_path: str | None = None, version: int | None = None, store=None
) -> str:
    """Render all counters + storage gauges (``storage_gauges``) in
    Prometheus exposition format."""
    with _LOCK:
        counters = dict(_COUNTERS)
    lines: list[str] = []
    # counter keys may carry prometheus labels (`name{k="v"}`): HELP/TYPE are
    # emitted once per base name, samples once per labeled series.
    seen_base: set[str] = set()
    for name in sorted(set(_HELP) | set(counters)):
        base = name.split("{", 1)[0]
        if base not in seen_base:
            seen_base.add(base)
            lines.append(f"# HELP {base} {_HELP.get(base, base)}")
            lines.append(f"# TYPE {base} counter")
        if name in counters or "{" not in name:
            lines.append(f"{name} {counters.get(name, 0.0):g}")
    for name, value in sorted(storage_gauges(storage_path, version, store).items()):
        lines.append(f"# HELP {name} {name.replace('_', ' ')}")
        lines.append(f"# TYPE {name} gauge")
        lines.append(f"{name} {value:g}")
    return "\n".join(lines) + "\n"
