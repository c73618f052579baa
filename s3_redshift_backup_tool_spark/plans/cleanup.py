"""Staging-area retention cleanup (reference K5, the ``s3clean`` CLI).

The reference batch-deletes staged S3 objects (<=1000 keys per request,
explicit confirm flag — ``src/core/s3_manager.py:555-615``, CLI
``src/cli/main.py:2205-2412``). Here staging is a filesystem/object path
of parquet files; the same safety contract holds:

- dry-run by default (``confirm=False`` only reports),
- a file is deletable only if it is already loaded (in the parquet
  manifest, ``operators.manifest``) or older than the retention cutoff,
- deletes run in bounded batches so a huge backlog can't build one giant
  request (mirrors the 1000-key S3 limit; on a real deployment swap the
  unlink for an S3 batch-delete call with the same batching).
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

DELETE_BATCH = 1000  # reference s3_manager.py:580 (S3 API hard limit)


@dataclass
class CleanReport:
    scanned: int = 0
    deletable: int = 0
    deleted: int = 0
    bytes_reclaimed: int = 0
    skipped_unloaded: int = 0
    batches: int = 0
    dry_run: bool = True
    files: list[str] = field(default_factory=list)


def clean_staging(
    staging_root: str,
    loaded_files: set[str] | None = None,
    *,
    older_than_seconds: float | None = None,
    confirm: bool = False,
    now: float | None = None,
) -> CleanReport:
    """Report (and with ``confirm=True`` delete) staged parquet files that
    are safe to reclaim.

    Safe = present in ``loaded_files`` (the paths the parquet manifest
    records: already COPY'd, so staging is just a cache) OR older than
    ``older_than_seconds``. Files matching neither are never touched —
    deleting an unloaded staged file would lose data the next load pass
    still needs."""
    now = time.time() if now is None else now
    loaded = loaded_files or set()
    report = CleanReport(dry_run=not confirm)

    root = staging_root.rstrip(os.sep)
    candidates: list[str] = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                                 recursive=True)):
        if f"{os.sep}_" in path[len(root):]:
            continue  # never touch manifest tables (_-prefixed dirs)
        report.scanned += 1
        is_loaded = path in loaded
        is_old = (older_than_seconds is not None
                  and now - os.path.getmtime(path) > older_than_seconds)
        if is_loaded or is_old:
            candidates.append(path)
        else:
            report.skipped_unloaded += 1

    report.deletable = len(candidates)
    report.files = candidates
    if not confirm:
        return report

    for i in range(0, len(candidates), DELETE_BATCH):
        batch = candidates[i:i + DELETE_BATCH]
        report.batches += 1
        for path in batch:
            try:
                size = os.path.getsize(path)
                os.remove(path)
                report.deleted += 1
                report.bytes_reclaimed += size
            except FileNotFoundError:
                pass
    # prune now-empty partition directories (year=/month= shells)
    for dirpath, dirnames, filenames in os.walk(staging_root, topdown=False):
        if dirpath != staging_root and not dirnames and not filenames:
            try:
                os.rmdir(dirpath)
            except OSError:
                pass
    return report
