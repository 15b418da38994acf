"""Object stores: the storage primitives every table manifest commits through.

``sydradb_spark.manifest`` writes its versioned-manifest protocol once,
against the five primitives of ``ObjectStore``. The commit point is
``put_if_absent`` — "create this key iff it does not exist", atomic
server-side. Every store a deployment keeps its table in has it:

- S3:    ``PutObject`` with ``If-None-Match: *`` (returns 412 when the key
         exists)
- GCS:   upload with ``x-goog-if-generation-match: 0``
- Azure: ``Put Blob`` with ``If-None-Match: *``
- POSIX: write a temp file, then exclusive ``link(2)`` (EEXIST when the
         name is taken; atomic on local filesystems and NFS)

Concrete stores here: ``LocalFSObjectStore`` (keys as files — a POSIX
table's manifest is this store over the table directory) and
``MemoryObjectStore`` (a test fake whose lock models the server-side
atomicity). A production S3/GCS client implements the same five methods;
no other code changes (reference parallel: the single-node MANIFEST swap
in ``src/sydra/storage/manifest.zig:18-57``).
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from pathlib import Path
from typing import Protocol


class ObjectStore(Protocol):
    """The five primitives the manifest protocol needs. ``put_if_absent``
    is the only one with atomicity requirements: it must create the key iff
    it does not already exist, atomically against concurrent creators.
    ``delete`` is used only by maintenance (``manifest.prune_versions``).

    A store may also offer ``mtime(key) -> float | None`` (epoch seconds of
    the key's last write; None when the key is missing). The vacuum uses it
    to keep young manifest versions and temp files inside its age window; a
    store without it reports no ages, so ``keep_versions`` alone decides."""

    def put_if_absent(self, key: str, data: bytes) -> bool: ...

    def put(self, key: str, data: bytes) -> None: ...

    def get(self, key: str) -> bytes | None: ...

    def list(self, prefix: str) -> list[str]: ...

    def delete(self, key: str) -> None: ...


class MemoryObjectStore:
    """In-memory fake with object-store semantics: flat key space, atomic
    put-if-absent (the lock models the store's server-side conditional-PUT
    atomicity), last-wins unconditional put, a write time per key.
    Thread-safe — the concurrency tests race real threads through it."""

    def __init__(self) -> None:
        self._data: dict[str, bytes] = {}
        self._mtime: dict[str, float] = {}
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
            self._mtime[key] = time.time()
            return True

    def put(self, key: str, data: bytes) -> None:
        with self._lock:
            self._data[key] = bytes(data)
            self._mtime[key] = time.time()

    def get(self, key: str) -> bytes | None:
        with self._lock:
            return self._data.get(key)

    def list(self, prefix: str) -> list[str]:
        with self._lock:
            return sorted(k for k in self._data if k.startswith(prefix))

    def delete(self, key: str) -> None:
        with self._lock:
            self._data.pop(key, None)
            self._mtime.pop(key, None)

    def mtime(self, key: str) -> float | None:
        with self._lock:
            return self._mtime.get(key)


class LocalFSObjectStore:
    """Object-store protocol over a local directory: keys are relative file
    paths; ``put_if_absent`` is write-temp-then-exclusive-``link(2)``, which
    never exposes a partial file. Constructing one touches nothing on disk —
    the root is created by the first write, so a read of a missing table
    leaves no directory behind. Temp files are hidden (``.<name>.<hex>.tmp``)
    and listed like any other key, so the vacuum can reclaim the ones a
    crashed writer left."""

    def __init__(self, root: str) -> None:
        self.root = Path(root)

    def _p(self, key: str) -> Path:
        rel = os.path.normpath(key)
        if os.path.isabs(rel) or rel == ".." or rel.startswith("../"):
            raise ValueError(f"key escapes store root: {key}")
        return self.root / rel

    def _write_temp(self, p: Path, data: bytes) -> Path:
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.{uuid.uuid4().hex}.tmp"
        tmp.write_bytes(data)
        return tmp

    def put_if_absent(self, key: str, data: bytes) -> bool:
        p = self._p(key)
        tmp = self._write_temp(p, data)
        try:
            os.link(tmp, p)
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)

    def put(self, key: str, data: bytes) -> None:
        p = self._p(key)
        self._write_temp(p, data).replace(p)

    def get(self, key: str) -> bytes | None:
        try:
            return self._p(key).read_bytes()
        except FileNotFoundError:
            return None

    def list(self, prefix: str) -> list[str]:
        # walk only the prefix's fixed directory, not the whole store: a
        # table root also holds every data file, and the manifest lists its
        # versions on every read and commit attempt
        out = []
        for d, _, names in os.walk(self.root / prefix.rpartition("/")[0]):
            rel_dir = os.path.relpath(d, self.root)
            for n in names:
                rel = n if rel_dir == "." else f"{rel_dir}/{n}"
                if rel.startswith(prefix):
                    out.append(rel)
        return sorted(out)

    def delete(self, key: str) -> None:
        self._p(key).unlink(missing_ok=True)

    def mtime(self, key: str) -> float | None:
        try:
            return self._p(key).stat().st_mtime
        except FileNotFoundError:
            return None
