"""The one data-file layer: which filesystem holds a table's data files,
and the primitives every listing, publish, delete and vacuum of them is
written once against.

``open_fs`` returns a ``LocalFS`` (the stdlib; no JVM, so the CLI's
maintenance runs without Spark) for a local path, plain or ``file://``,
and a ``HadoopFS`` (py4j) for any other URI. Both take keys relative to
the table root: ``list`` gives ``(name, is_dir, mtime)`` or ``[]`` for a
missing path; ``newest_mtime`` is the newest mtime in a tree; ``rename``
creates the parent and stamps publication time; ``delete`` is recursive
and tolerates a missing key; ``rmdir`` removes only an empty directory.
``Path('s3a://b/t')`` is the RELATIVE local directory ``s3a:/b/t``, which
is why no data-file operation touches a URI through ``pathlib``.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError


def local_path(path: str) -> str | None:
    """Local-filesystem form of ``path`` (plain or ``file://``), or None for
    a non-POSIX URI (``s3a://``, ``hdfs://``, ...)."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme == "file":
        return parsed.path
    if parsed.scheme == "":
        return path
    return None


def hadoop_fs(spark, path: str):
    """(jvm, FileSystem, Path) for ``path`` on whatever filesystem Spark can
    reach, through the session's Hadoop configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def open_fs(path: str, spark=None) -> LocalFS | HadoopFS:
    """The filesystem holding the table rooted at ``path``. A URI needs
    ``spark``: the Hadoop FileSystem API is reached through its JVM."""
    local = local_path(path)
    if local is not None:
        return LocalFS(local)
    if spark is None:
        raise ValueError(
            f"{path!r} is not a local path: reaching its data files through "
            "the Hadoop FileSystem API needs a SparkSession (pass spark=)"
        )
    return HadoopFS(spark, path)


def vacuum_fs(path: str, spark, op: str) -> LocalFS | HadoopFS | None:
    """``open_fs`` for a vacuum's data pass; None, with a logged warning, for
    a URI and no session (never silent: a cron-style call would otherwise
    reclaim nothing forever without a signal)."""
    if spark is None and local_path(path) is None:
        import logging

        logging.getLogger("sydradb_spark.maintenance").warning(
            "%s(%s): data pass SKIPPED — URI data location and no "
            "SparkSession to reach it; only manifest versions were pruned",
            op,
            path,
        )
        return None
    return open_fs(path, spark)


class LocalFS:
    """A local table root. ``rename`` and ``delete`` carry the hidden
    ``.<name>.crc`` checksum Spark's local writer keeps beside a file."""

    def __init__(self, root: str):
        self.root = Path(root)

    def path(self, rel: str) -> str:
        return str(self.root / rel)

    def list(self, rel: str = "") -> list[tuple[str, bool, float]]:
        out = []
        try:
            with os.scandir(self.root / rel) as it:
                for e in it:
                    try:
                        out.append((e.name, e.is_dir(), e.stat().st_mtime))
                    except FileNotFoundError:
                        pass  # deleted between the listing and the stat
        except (FileNotFoundError, NotADirectoryError):
            return []
        return out

    def newest_mtime(self, rel: str) -> float:
        """A long Spark write advances only LEAF mtimes, so a tree's newest
        mtime says whether it is live. A missing entry (racing its creator
        or deleter) counts as 'now': races err toward keeping."""
        root = self.root / rel
        try:
            newest = root.stat().st_mtime
            for p in root.rglob("*"):
                newest = max(newest, p.stat().st_mtime)
        except FileNotFoundError:
            return time.time()
        return newest

    def rename(self, src: str, dst: str) -> None:
        """Checksum first, and publication time stamped on both: rename(2)
        keeps the source mtime, voiding a vacuum's age guard."""
        s, d = self.root / src, self.root / dst
        d.parent.mkdir(parents=True, exist_ok=True)
        crc = s.with_name(f".{s.name}.crc")
        if crc.exists():
            crc_dst = d.with_name(f".{d.name}.crc")
            crc.rename(crc_dst)
            os.utime(crc_dst)
        s.rename(d)
        os.utime(d)

    def delete(self, rel: str) -> None:
        p = self.root / rel
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)
            p.with_name(f".{p.name}.crc").unlink(missing_ok=True)

    def rmdir(self, rel: str) -> None:
        try:
            os.rmdir(self.root / rel)
        except OSError:
            pass  # not empty, or gone


class HadoopFS:
    """A table root on a Hadoop FileSystem. Its checksum filesystems hide,
    rename and delete ``.crc`` siblings themselves."""

    def __init__(self, spark, root: str):
        self.root = root.rstrip("/")
        self._jvm, self._fs, _ = hadoop_fs(spark, self.root)

    def path(self, rel: str) -> str:
        return f"{self.root}/{rel}" if rel else self.root

    def _p(self, rel: str):
        return self._jvm.org.apache.hadoop.fs.Path(self.path(rel))

    def list(self, rel: str = "") -> list[tuple[str, bool, float]]:
        p = self._p(rel)
        if not self._fs.exists(p):
            return []
        return [
            (st.getPath().getName(), st.isDirectory(), st.getModificationTime() / 1000.0)
            for st in self._fs.listStatus(p)
        ]

    def newest_mtime(self, rel: str) -> float:
        p = self._p(rel)
        try:
            st = self._fs.getFileStatus(p)
            newest = st.getModificationTime() / 1000.0
            if st.isDirectory():
                it = self._fs.listFiles(p, True)
                while it.hasNext():
                    newest = max(newest, it.next().getModificationTime() / 1000.0)
        except Py4JJavaError:  # missing, or racing its deleter
            return time.time()
        return newest

    def rename(self, src: str, dst: str) -> None:
        """Publication time is stamped where the store has ``setTimes``:
        HDFS rename keeps the source mtime, like rename(2)."""
        s, d = self._p(src), self._p(dst)
        self._fs.mkdirs(d.getParent())
        if not self._fs.rename(s, d):
            raise IOError(f"hadoop rename failed: {s} -> {d}")
        try:
            self._fs.setTimes(d, int(time.time() * 1000), -1)
        except Exception:  # noqa: BLE001 — no setTimes: the PUT time is fresh
            pass

    def delete(self, rel: str) -> None:
        self._fs.delete(self._p(rel), True)

    def rmdir(self, rel: str) -> None:
        try:
            self._fs.delete(self._p(rel), False)
        except Py4JJavaError:
            pass  # not empty
