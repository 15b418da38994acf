"""Shared soak-prep plumbing (round 13, review finding): both soak scripts
materialize a twin as `chunks` arrival-ordered files in ONE
repartition("chunk") + partitionBy write, then rename each partition's part
file to `chunk_%04d.<ext>` with an mtime that forces arrival order under
maxFilesPerTrigger batching. The rename/empty/multi-part edge handling
lives here once so the two scripts cannot drift (they previously disagreed
on the multi-part case)."""

from __future__ import annotations

import glob
import os
import shutil
import time


def finalize_chunk_files(
    tmp: str,
    src_dir: str,
    chunks: int,
    ext: str,
    write_empty,
    merge_multi,
) -> None:
    """Move `tmp/chunk=i/part-*` to `src_dir/chunk_%04d.<ext>`, one file per
    chunk. ``write_empty(dst)`` fills a chunk whose time slice held no rows
    (the batch schedule the crash/txn math is built on must stay aligned);
    ``merge_multi(parts, dst)`` handles the repartition guarantee failing
    (e.g. a future maxRecordsPerFile split) — text concatenates, parquet
    re-writes coalesced. Removes ``tmp`` when done."""
    now = time.time()
    for i in range(chunks):
        parts = sorted(glob.glob(f"{tmp}/chunk={i}/part-*"))
        dst = f"{src_dir}/chunk_{i:04d}.{ext}"
        if len(parts) == 1:
            shutil.move(parts[0], dst)
        elif not parts:
            write_empty(dst)
        else:
            merge_multi(parts, dst)
        os.utime(dst, (now + i, now + i))
    shutil.rmtree(tmp, ignore_errors=True)


def concat_files(parts: list[str], dst: str) -> None:
    """Multi-part merge for line-oriented formats (NDJSON/text)."""
    with open(dst, "wb") as out:
        for p in parts:
            with open(p, "rb") as fh:
                shutil.copyfileobj(fh, out)


class AppIds:
    """Each soak app's stream identity by app index: its checkpoint's own id
    (``ingest.checkpoint_app_id``), which exists only once that app's stream
    has started. Crash schedules therefore key by app index; ids are read
    here on demand and cached once known."""

    def __init__(self, spark, checkpoints: list[str]):
        self._spark = spark
        self._checkpoints = checkpoints
        self._ids: dict[int, str] = {}

    def __getitem__(self, k: int) -> str | None:
        if k not in self._ids:
            from sydradb_spark.ingest import checkpoint_app_id

            got = checkpoint_app_id(self._spark, self._checkpoints[k])
            if got is None:
                return None  # not started yet
            self._ids[k] = got
        return self._ids[k]

    def index(self, app_id: str) -> int | None:
        """The app index whose checkpoint carries ``app_id``."""
        return next(
            (k for k in range(len(self._checkpoints)) if self[k] == app_id), None
        )
