"""Object-store-safe manifest commits: the same versioned-manifest protocol
as ``sydradb_spark.manifest``, with the CAS commit point re-based from POSIX
``link(2)`` onto an object store's native conditional write.

``manifest.py`` commits by exclusively linking ``v{N+1}.json`` into place —
atomic on local filesystems and NFS, but IMPOSSIBLE on S3/GCS/Azure (no
link, no rename, no flock), which is where a 100-TB deployment actually
keeps its table. All three major stores expose the one primitive the
protocol needs — "create this key iff it does not exist", atomic
server-side:

- S3:    ``PutObject`` with ``If-None-Match: *`` (native conditional
         writes; returns 412 when the key exists)
- GCS:   upload with ``x-goog-if-generation-match: 0``
- Azure: ``Put Blob`` with ``If-None-Match: *``

That primitive is exactly what ``link(2)`` gave us locally, so the commit
protocol — version race + re-read-and-retry + monotonic pointer hint —
carries over UNCHANGED; only the CAS syscall is swapped. This module is the
seam documented in SCALE_NOTES/DEPLOY.md (reference parallel: the
single-node MANIFEST rename in ``src/sydra/storage/manifest.zig:18-57``,
which has the same object-store problem).

Layout (keys, mirroring the local manifest dir):

    <table>/_manifest/v1.json    {"version": 1, "files": [...]}
    <table>/_manifest/v2.json
    <table>/_manifest/LATEST     "2"    (unconditional hint, never trusted)

Concrete stores here: ``MemoryObjectStore`` (test fake with atomic
put-if-absent under a lock — models the server-side atomicity) and
``LocalFSObjectStore`` (keys as files, put-if-absent via the same exclusive
link — so the store-generic code path can run against a real filesystem).
A production S3/GCS client needs only the four methods of the protocol; no
other code changes.
"""

from __future__ import annotations

import json
import threading
import time
from typing import Protocol


class ObjectStore(Protocol):
    """The five primitives the protocol needs. ``put_if_absent`` is the
    only one with atomicity requirements: it must create the key iff it
    does not already exist, atomically against concurrent creators (S3
    If-None-Match, GCS if-generation-match:0, Azure If-None-Match).
    ``delete`` is used only by maintenance (``vacuum_versions``) — it was
    implicit before r13, which meant a client implementing the documented
    surface hit AttributeError at its first vacuum, not at type-check."""

    def put_if_absent(self, key: str, data: bytes) -> bool: ...

    def put(self, key: str, data: bytes) -> None: ...

    def get(self, key: str) -> bytes | None: ...

    def list(self, prefix: str) -> list[str]: ...

    def delete(self, key: str) -> None: ...


class MemoryObjectStore:
    """In-memory fake with object-store semantics: flat key space, atomic
    put-if-absent (the lock models the store's server-side conditional-PUT
    atomicity), last-wins unconditional put. Thread-safe — the concurrency
    tests race real threads through it."""

    def __init__(self) -> None:
        self._data: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self.cas_attempts = 0  # diagnostics: total conditional PUTs
        self.cas_losses = 0  # ... and how many hit the 412 path

    def put_if_absent(self, key: str, data: bytes) -> bool:
        with self._lock:
            self.cas_attempts += 1
            if key in self._data:
                self.cas_losses += 1
                return False
            self._data[key] = bytes(data)
            return True

    def put(self, key: str, data: bytes) -> None:
        with self._lock:
            self._data[key] = bytes(data)

    def get(self, key: str) -> bytes | None:
        with self._lock:
            return self._data.get(key)

    def list(self, prefix: str) -> list[str]:
        with self._lock:
            return sorted(k for k in self._data if k.startswith(prefix))

    def delete(self, key: str) -> None:
        with self._lock:
            self._data.pop(key, None)


class LocalFSObjectStore:
    """Object-store protocol over a local directory: keys are relative file
    paths; ``put_if_absent`` is write-temp-then-exclusive-``link(2)`` — the
    identical guarantee ``manifest._publish_version`` relies on, so the
    store-generic protocol runs unmodified on POSIX/NFS too (one code path
    to reason about, two deployment targets)."""

    def __init__(self, root: str) -> None:
        from pathlib import Path

        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _p(self, key: str):
        p = (self.root / key).resolve()
        if self.root.resolve() not in p.parents and p != self.root.resolve():
            raise ValueError(f"key escapes store root: {key}")
        return p

    def put_if_absent(self, key: str, data: bytes) -> bool:
        import os
        import uuid

        p = self._p(key)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.{uuid.uuid4().hex}.tmp"
        tmp.write_bytes(data)
        try:
            os.link(tmp, p)
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)

    def put(self, key: str, data: bytes) -> None:
        import uuid

        p = self._p(key)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.{uuid.uuid4().hex}.tmp"
        tmp.write_bytes(data)
        tmp.replace(p)

    def get(self, key: str) -> bytes | None:
        try:
            return self._p(key).read_bytes()
        except FileNotFoundError:
            return None

    def list(self, prefix: str) -> list[str]:
        # walk only the prefix's fixed directory, not the whole store:
        # manifest reads call list() once per read AND per CAS attempt, and
        # a store root that also holds data files made every manifest
        # operation O(all keys) (r13 review)
        from pathlib import PurePath

        pp = PurePath(prefix)
        base = self.root / (pp if prefix.endswith("/") else pp.parent)
        if not base.is_dir():
            return []
        out = []
        for p in base.rglob("*"):
            if p.is_file() and not p.name.startswith("."):
                rel = str(p.relative_to(self.root))
                if rel.startswith(prefix):
                    out.append(rel)
        return sorted(out)

    def delete(self, key: str) -> None:
        self._p(key).unlink(missing_ok=True)


def _mprefix(table: str) -> str:
    return f"{table.rstrip('/')}/_manifest/"


def latest_version(store: ObjectStore, table: str) -> int | None:
    """Newest committed version: max of the pointer hint and the LISTED
    version keys — a committed-but-unpointed version (crash or concurrent
    winner between CAS and pointer advance) is still visible, and a stale
    or regressed pointer is harmless. Object-store LIST is strongly
    consistent on S3 (since 2020)/GCS/Azure, so the listing is safe to
    trust as the source of truth."""
    pre = _mprefix(table)
    cands = []
    raw = store.get(pre + "LATEST")
    if raw is not None:
        try:
            cands.append(int(raw.decode().strip()))
        except ValueError:
            pass
    for key in store.list(pre + "v"):
        name = key[len(pre):]
        if name.startswith("v") and name.endswith(".json"):
            try:
                cands.append(int(name[1:-5]))
            except ValueError:
                pass
    return max(cands) if cands else None


def read_files(
    store: ObjectStore, table: str, version: int | None = None
) -> list[str]:
    """Relative data-file paths of ``version`` (default: latest)."""
    v = version if version is not None else latest_version(store, table)
    if v is None:
        raise FileNotFoundError(f"no manifest for {table}")
    return list(_read_doc(store, table, v)["files"])


def _read_doc(store: ObjectStore, table: str, version: int) -> dict:
    raw = store.get(_mprefix(table) + f"v{version}.json")
    if raw is None:
        raise FileNotFoundError(f"missing manifest v{version} for {table}")
    return json.loads(raw)


def read_txn(store: ObjectStore, table: str, app_id: str) -> int | None:
    """Highest committed txn version for ``app_id`` — the streaming sink's
    replay guard, mirrored from ``manifest.read_txn`` so the exactly-once
    contract carries to object-store deployments unchanged."""
    v = latest_version(store, table)
    if v is None:
        return None
    val = (_read_doc(store, table, v).get("txn") or {}).get(app_id)
    return None if val is None else int(val)


def read_ledger(
    store: ObjectStore, table: str, version: int | None = None
) -> dict[str, int]:
    """The full txn ledger of ``version`` (default: latest; {} when absent)."""
    v = version if version is not None else latest_version(store, table)
    if v is None:
        return {}
    return {k: int(t) for k, t in (_read_doc(store, table, v).get("txn") or {}).items()}


def commit_replace(
    store: ObjectStore, table: str, files: list[str], txn_map: dict[str, int] | None
) -> int:
    """Full-replacement commit that also REPLACES the txn ledger — the
    object-store twin of ``manifest.commit_replace`` (restore rewinds the
    replay guard with the data). Offline maintenance: one attempt."""
    cur = latest_version(store, table)
    v = 1 if cur is None else cur + 1
    doc: dict = {"version": v, "files": sorted(files)}
    if txn_map:
        doc["txn"] = {k: int(t) for k, t in txn_map.items()}
    if not store.put_if_absent(_mprefix(table) + f"v{v}.json", json.dumps(doc).encode()):
        raise RuntimeError(f"commit_replace lost a version race at {table}")
    _advance_pointer(store, table, v)
    return v


def commit_cas(
    store: ObjectStore,
    table: str,
    files: list[str] | None = None,
    *,
    mutate=None,
    txn: tuple[str, int] | None = None,
    max_retries: int = 16,
) -> int | None:
    """CAS-with-retry commit against an object store — the multi-host,
    no-locks protocol of ``manifest.commit_cas`` with conditional PUT as
    the commit point.

    Each attempt reads the current version, computes the new file list, and
    tries to create ``v{N+1}.json`` with put-if-absent; exactly one
    committer can win a version, a loser re-reads and retries with linear
    backoff, so a concurrent committer's files are never dropped.
    ``mutate(old_files) -> new_files`` may run once PER ATTEMPT against a
    fresh list — it must be a pure function of its input. There is no flock
    fast path here: object stores have no locks, contention is absorbed
    entirely by the retry loop (which is also why committers should batch —
    one commit per micro-append multiplies the conditional-PUT rate).

    ``txn=(app_id, txn_version)`` is the idempotency ledger of
    ``manifest.commit_cas``: an attempt whose txn is already recorded
    returns None without committing (re-checked inside the CAS loop)."""
    if (files is None) == (mutate is None):
        raise ValueError("pass exactly one of files= or mutate=")
    pre = _mprefix(table)
    for attempt in range(max_retries):
        cur = latest_version(store, table)
        v = 1 if cur is None else cur + 1
        try:
            cur_doc = _read_doc(store, table, cur) if cur is not None else {}
        except FileNotFoundError:
            # concurrent committer advanced the version and a concurrent
            # vacuum_versions pruned v{cur} between the listing and the
            # GET — re-read and retry, same as losing the version race
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
        doc: dict = {"version": v, "files": sorted(new)}
        if txn_map:
            doc["txn"] = txn_map
        payload = json.dumps(doc).encode()
        if store.put_if_absent(pre + f"v{v}.json", payload):
            _advance_pointer(store, table, v)
            return v
        time.sleep(0.005 * (attempt + 1))
    raise RuntimeError(
        f"manifest commit contention: lost the version race "
        f"{max_retries} times at {table}"
    )


def _advance_pointer(store: ObjectStore, table: str, v: int) -> None:
    """Best-effort monotonic advance of the LATEST hint (unconditional PUT
    — two racing winners can briefly regress it; ``latest_version`` maxes
    the hint with the listing, so the hint only speeds reads up, never
    decides correctness)."""
    pre = _mprefix(table)
    raw = store.get(pre + "LATEST")
    if raw is not None:
        try:
            if int(raw.decode().strip()) >= v:
                return
        except ValueError:
            pass
    store.put(pre + "LATEST", str(v).encode())


def vacuum_versions(
    store: ObjectStore, table: str, keep_versions: int = 2
) -> list[str]:
    """Delete manifest version keys older than the retained window (data
    files are the caller's to garbage-collect against the retained file
    sets, same contract as ``manifest.vacuum``). Object stores have no
    mtime-rename races, but time-travel readers of dropped versions will
    404 — size ``keep_versions`` to the reader horizon."""
    v = latest_version(store, table)
    if v is None:
        return []
    pre = _mprefix(table)
    removed = []
    for key in store.list(pre + "v"):
        name = key[len(pre):]
        try:
            kv = int(name[1:-5])
        except ValueError:
            continue
        if kv <= v - keep_versions:
            store.delete(key)
            removed.append(key)
    return sorted(removed)
