"""Versioned file manifests: the one atomic-commit protocol of every table.

The reference tracks live segments in a MANIFEST and swaps it atomically
(src/sydra/storage/manifest.zig); the Spark translation is the same idea a
table format (Delta/Iceberg) uses — a JSON file list per version plus a
pointer hint:

    <prefix>v1.json   {"version": 1, "files": ["hour_bucket=0/..."], "txn": {...}}
    <prefix>v2.json
    <prefix>LATEST    "2"

The protocol is written once, against the five primitives of an
``objectstore.ObjectStore``. The COMMIT POINT is ``put_if_absent`` of
``v{N+1}.json``: exactly one committer can win a version (CAS), a loser
re-reads and retries, and a crash before it leaves the table at the
previous version; readers never observe a partial rewrite. ``LATEST`` is a
monotonic pointer HINT advanced after the win (readers take ``max(pointer,
listed versions)``, so a stale, regressed or corrupt pointer is harmless).
There are no locks: contention is absorbed by the retry loop, on one host
and across hosts alike. Old versions stay until ``prune_versions`` (which
also gives cheap time travel via ``read_files(path, version)``).

Where the manifest lives (``_at``, the one resolver):

- a POSIX table (a plain or ``file://`` path, ``store=None``) is a
  ``LocalFSObjectStore`` over the table directory with prefix
  ``_manifest/`` — ``put_if_absent`` there is write-temp + exclusive
  ``link(2)``, atomic on local filesystems and NFS;
- a caller-supplied store (S3/GCS/Azure client, or any ``ObjectStore``)
  keeps it under ``<key>/_manifest/`` — ``points`` for the points table,
  ``rollup`` for the streaming rollup — while the data files live wherever
  the table path points.

A URI path without a store is rejected: a local manifest for an
object-store table would commit the exactly-once ledger to a relative
local ``s3a:/...`` directory while the data went to the store.

The txn ledger (``txn``: app id → highest committed batch) is the
idempotent-sink log of Structured Streaming (SIGMOD 2018) and the twin of
the reference's WAL highwater replay cutoff (engine.zig:406-437): a commit
whose batch is already in the ledger is a no-op. Every commit carries the
ledger forward; ``commit_replace`` (restore) replaces it.

Managed-table alternative: the same storage layout drops into Delta or
Iceberg by replacing ``commit`` with the format's conditional commit;
``storage.write_points`` is the single seam that would change. A table
without a manifest reads as a plain directory in ``storage`` and is
adopted (its listing committed as a version) by its first mutation.
"""

from __future__ import annotations

import json
import time

from sydradb_spark.objectstore import LocalFSObjectStore, ObjectStore

MANIFEST_DIR = "_manifest"
POINTS_KEY = "points"  # a caller-supplied store's key for the points table


def _at(
    path: str, store: ObjectStore | None = None, key: str = POINTS_KEY
) -> tuple[ObjectStore, str]:
    """(store, key prefix) holding the manifest of the table at ``path``."""
    if store is not None:
        return store, f"{key}/{MANIFEST_DIR}/"
    from sydradb_spark.datafs import local_path

    local = local_path(path)
    if local is None:
        raise ValueError(
            f"{path!r} is not a POSIX path, so its manifest cannot live beside "
            "the data: pass store= (an objectstore.ObjectStore scoped to this "
            "table) so the manifest commits through the object-store's "
            "conditional PUT"
        )
    return LocalFSObjectStore(local), f"{MANIFEST_DIR}/"


def _versions(st: ObjectStore, pre: str) -> dict[int, str]:
    """Listed version number → key."""
    out = {}
    for k in st.list(pre + "v"):
        name = k[len(pre):]
        if name.endswith(".json"):
            try:
                out[int(name[1:-5])] = k
            except ValueError:
                pass
    return out


def latest_version(
    path: str, *, store: ObjectStore | None = None, key: str = POINTS_KEY
) -> int | None:
    """Newest committed version: max of the pointer hint and the listed
    version keys. The listing makes a committed-but-unpointed version (a
    crash or a concurrent committer between the CAS and the pointer
    advance) visible; a stale or corrupt pointer never decides anything.
    Object-store LIST is strongly consistent on S3/GCS/Azure."""
    st, pre = _at(path, store, key)
    cands = list(_versions(st, pre))
    raw = st.get(pre + "LATEST")
    if raw is not None:
        try:
            cands.append(int(raw.decode().strip()))
        except ValueError:
            pass
    return max(cands, default=None)


def has_manifest(
    path: str, *, store: ObjectStore | None = None, key: str = POINTS_KEY
) -> bool:
    return latest_version(path, store=store, key=key) is not None


def _read_doc(st: ObjectStore, pre: str, version: int) -> dict:
    raw = st.get(pre + f"v{version}.json")
    if raw is None:
        raise FileNotFoundError(f"missing manifest {pre}v{version}.json")
    return json.loads(raw)


def read_files(
    path: str,
    version: int | None = None,
    *,
    store: ObjectStore | None = None,
    key: str = POINTS_KEY,
) -> list[str]:
    """Relative data-file paths of ``version`` (default: latest)."""
    v = version if version is not None else latest_version(path, store=store, key=key)
    if v is None:
        raise FileNotFoundError(f"no manifest at {path}")
    return list(_read_doc(*_at(path, store, key), v)["files"])


def read_ledger(
    path: str,
    version: int | None = None,
    *,
    store: ObjectStore | None = None,
    key: str = POINTS_KEY,
) -> dict[str, int]:
    """The txn ledger of ``version`` (default: latest; {} when absent)."""
    v = version if version is not None else latest_version(path, store=store, key=key)
    if v is None:
        return {}
    doc = _read_doc(*_at(path, store, key), v)
    return {k: int(t) for k, t in (doc.get("txn") or {}).items()}


def read_txn(
    path: str, app_id: str, *, store: ObjectStore | None = None, key: str = POINTS_KEY
) -> int | None:
    """Highest txn version committed for ``app_id`` (None when the table has
    no manifest or the app never committed) — the streaming sink's replay
    guard: a re-delivered, already-durable batch is detected here."""
    return read_ledger(path, store=store, key=key).get(app_id)


def _publish(
    st: ObjectStore, pre: str, v: int, files: list[str], txn_map: dict[str, int]
) -> bool:
    """CAS: create ``v{v}.json`` iff no committer already has, then advance
    the pointer hint. False when the version was taken."""
    doc: dict = {"version": v, "files": sorted(files)}
    if txn_map:
        doc["txn"] = txn_map
    if not st.put_if_absent(pre + f"v{v}.json", json.dumps(doc).encode()):
        return False
    _advance_pointer(st, pre, v)
    return True


def _advance_pointer(st: ObjectStore, pre: str, v: int) -> None:
    """Best-effort monotonic advance of the LATEST hint. Two racing winners
    can briefly regress it (check-then-put is not atomic); ``latest_version``
    maxes the pointer with the listing, so the hint only speeds reads up."""
    raw = st.get(pre + "LATEST")
    if raw is not None:
        try:
            if int(raw.decode().strip()) >= v:
                return
        except ValueError:
            pass
    st.put(pre + "LATEST", str(v).encode())


def commit(
    path: str,
    files: list[str] | None = None,
    *,
    mutate=None,
    txn: tuple[str, int] | None = None,
    store: ObjectStore | None = None,
    key: str = POINTS_KEY,
    max_retries: int = 16,
) -> int | None:
    """Commit the next version; returns it, or None for a replayed txn.

    Two forms:

    - ``commit(path, files)`` — full replacement; for overwrite / fresh
      tables where the new list doesn't depend on the old one.
    - ``commit(path, mutate=fn)`` — read-modify-write; ``fn(old_files) ->
      new_files`` sees the list actually being replaced. Appenders and
      compactors must use this form: computing the merged list outside the
      commit lets a concurrent committer's files be dropped (lost-append).

    Each attempt reads the current version, computes the new list and tries
    to win ``v{N+1}.json``; a loser re-reads and retries with linear
    backoff, so ``mutate`` may run once PER ATTEMPT and must be a pure
    function of its input. ``txn=(app_id, txn_version)`` makes the commit
    idempotent per app: an attempt whose txn_version is already <= the
    ledger entry returns None without committing — re-checked inside the
    loop, so a racing duplicate loses either the version or the ledger
    check, never both ways."""
    if (files is None) == (mutate is None):
        raise ValueError("pass exactly one of files= or mutate=")
    st, pre = _at(path, store, key)
    for attempt in range(max_retries):
        cur = latest_version(path, store=store, key=key)
        try:
            cur_doc = _read_doc(st, pre, cur) if cur is not None else {}
        except FileNotFoundError:
            # a concurrent committer advanced the version and a concurrent
            # vacuum pruned v{cur} between the listing and this read —
            # re-read and retry, exactly like losing the version race
            time.sleep(0.005 * (attempt + 1))
            continue
        txn_map = {k: int(tv) for k, tv in (cur_doc.get("txn") or {}).items()}
        if txn is not None:
            app_id, txn_v = txn
            if txn_map.get(app_id, -1) >= txn_v:
                return None  # already applied — replayed batch is a no-op
            txn_map[app_id] = txn_v
        new = (
            list(mutate(list(cur_doc.get("files", []))))
            if mutate is not None
            else list(files)  # type: ignore[arg-type]
        )
        v = 1 if cur is None else cur + 1
        if _publish(st, pre, v, new, txn_map):
            return v
        time.sleep(0.005 * (attempt + 1))
    raise RuntimeError(
        f"manifest commit contention: lost the version race "
        f"{max_retries} times at {path}"
    )


def commit_replace(
    path: str,
    files: list[str],
    txn_map: dict[str, int] | None,
    *,
    store: ObjectStore | None = None,
    key: str = POINTS_KEY,
) -> int:
    """Full-replacement commit that also REPLACES the txn ledger — the
    restore path: rewinding a table to a snapshot must rewind the replay
    guard WITH it, so a streaming batch delivered after the snapshot
    re-appends instead of no-op'ing against the future ledger. Offline
    maintenance: single committer, one publish attempt."""
    cur = latest_version(path, store=store, key=key)
    v = 1 if cur is None else cur + 1
    ledger = {k: int(t) for k, t in (txn_map or {}).items()}
    if not _publish(*_at(path, store, key), v, files, ledger):
        raise RuntimeError(f"commit_replace lost a version race at {path}")
    return v


def prune_versions(
    path: str,
    keep_versions: int = 2,
    min_age_seconds: int = 600,
    *,
    store: ObjectStore | None = None,
    key: str = POINTS_KEY,
) -> set[str] | None:
    """Delete old manifest versions and crashed writers' temp files; return
    the keep-set — every file a retained version references — or None when
    the table has no manifest at all. The caller's data pass reclaims only
    what ``reclaimable`` allows.

    Retained = the last ``keep_versions`` versions up to the LATEST this
    vacuum read PLUS any version younger than ``min_age_seconds`` (the store's
    ``mtime``; a store without one gives no ages). The age window is the
    reader guard: a time-travel reader holding version N−k survives a
    concurrent vacuum as long as it started within the window. Only listed
    versions at or below the snapshot are candidates, so a version
    committed during the vacuum survives; holes left by earlier vacuums are
    never read. Raises when a version is named but none is readable — an
    emptied or failed listing would otherwise reclaim every data file,
    committed ones included. Set ``min_age_seconds=0`` only in offline
    maintenance."""
    st, pre = _at(path, store, key)
    latest = latest_version(path, store=store, key=key)
    if latest is None:
        return None
    versions = _versions(st, pre)
    now = time.time()
    mtime = getattr(st, "mtime", None)

    def young(k: str) -> bool:
        if mtime is None:
            return False
        t = mtime(k)
        return t is None or now - t < min_age_seconds  # None: racing its creator

    kept = [
        v
        for v, k in sorted(versions.items())
        if v > latest - keep_versions or young(k)
    ]
    keep: set[str] = set()
    readable = 0
    for v in kept:
        try:
            keep.update(_read_doc(st, pre, v)["files"])
            readable += 1
        except FileNotFoundError:
            continue  # lost a race with a concurrent vacuum
    if not readable:
        raise RuntimeError(
            f"vacuum({path!r}): no readable manifest version is listed "
            f"(LATEST={latest}) — refusing to reclaim data files without a keep-set"
        )
    for v in versions.keys() - set(kept):
        st.delete(versions[v])
    for k in st.list(pre + "."):
        if k.endswith(".tmp") and not young(k):
            st.delete(k)
    return keep


def reclaimable(kept: set[str] | None, name: str, path: str) -> bool:
    """Whether a vacuum's data pass may reclaim ``name`` (a data file or
    entry past the age window) against ``kept``, ``prune_versions``'
    result. A table with no manifest has no keep-set, and nothing is
    reclaimed without one: a manifest whose every file was lost would
    otherwise let the vacuum delete committed data."""
    if kept is None:
        raise RuntimeError(
            f"vacuum({path!r}): no manifest version is listed — refusing to "
            f"reclaim {name!r} without a keep-set"
        )
    return name not in kept
