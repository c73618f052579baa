"""Watermark state store — the engine's only persistent state.

Re-implements the v2.0 watermark document semantics of the reference's
``src/core/simple_watermark_manager.py`` (doc shape :465-499, scoped key
:551-574, cumulative math :120-184, manual set/reset :364-406, advisory
locks :408-463, retry-on-save :501-549) as a pure-Python module with a
pluggable key-value backend (local directory of JSON files by default; an
S3 client exposing get/put/delete/head would drop in unchanged).

The reference's ``processed_files`` blacklist (:186-249) is not kept here:
the one record of which staged files reached the target is the parquet
manifest (``operators.manifest.ParquetManifest``), which the load stage
anti-joins. The doc keeps only cumulative file counters. Keys an older doc
still carries (a ``processed_files`` array, ``last_loaded_files``) are
ignored.

No Spark dependency — unit-testable in isolation. The Spark sync plan
(``plans.sync``) reads the watermark to build the CDC predicate and commits
it after the job succeeds, which is the Structured-Streaming-checkpoint
analog for the batch path.
"""

from __future__ import annotations

import json
import os
import socket
import time
import uuid
from datetime import datetime, timezone
from typing import Any


def _utcnow_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def default_watermark() -> dict[str, Any]:
    """Fresh v2.0 watermark document (reference :465-499)."""
    return {
        "version": "2.0",
        "mysql_state": {
            "last_timestamp": None,
            "last_id": None,
            "status": "pending",       # pending | in_progress | success | failed
            "error": None,
            "total_rows": 0,           # cumulative across sessions
            "last_session_rows": 0,
            "s3_files_created": 0,     # cumulative
            "last_session_files": 0,
            "last_updated": None,
        },
        "redshift_state": {
            "total_rows": 0,
            "last_session_rows": 0,
            "status": "pending",
            "error": None,
        },
        "metadata": {
            "created_at": _utcnow_iso(),
            "manual_override": False,
        },
    }


class LocalJsonBackend:
    """Directory-of-JSON-files backend (stands in for the reference's S3)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        p = os.path.join(self.root, key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def get(self, key: str) -> dict | None:
        p = self._path(key)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def put(self, key: str, doc: dict) -> None:
        p = self._path(key)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=2, default=str)
        os.replace(tmp, p)

    def delete(self, key: str) -> None:
        p = self._path(key)
        if os.path.exists(p):
            os.remove(p)

    def exists(self, key: str) -> bool:
        return os.path.exists(self._path(key))

    def put_if_absent(self, key: str, doc: dict) -> bool:
        """Atomic create-if-missing. Returns False when the key exists.

        The payload must be *atomically visible*: write the JSON to a
        private temp file first, then ``os.link`` it to the final name.
        link() fails with EEXIST when the key is held, and whenever the
        file is visible it is complete — a concurrent loser reading the
        holder document can never observe an empty/partial file (the
        O_CREAT|O_EXCL-then-write variant had exactly that window)."""
        p = self._path(key)
        tmp = f"{p}.{os.getpid()}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=2, default=str)
        try:
            os.link(tmp, p)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True


class LockHeldError(RuntimeError):
    pass


class WatermarkStore:
    """Scoped watermark documents (cursor + cumulative row and file
    counters) + advisory locks. The loaded-file record itself is the
    parquet manifest, not this store.

    Key layout mirrors the reference: ``watermarks/v2/{source}_{table}_{target}.json``
    and locks under ``watermarks/v2/locks/``.
    """

    PREFIX = "watermarks/v2"

    def __init__(self, backend: LocalJsonBackend, max_retries: int = 3):
        self.backend = backend
        self.max_retries = max_retries

    # -- keys -------------------------------------------------------------
    def _key(self, source: str, table: str, target: str) -> str:
        safe = "_".join(
            part.replace(":", "_").replace(".", "_").replace("/", "_")
            for part in (source, table, target)
        )
        return f"{self.PREFIX}/{safe}.json"

    def _lock_key(self, source: str, table: str, target: str) -> str:
        return f"{self.PREFIX}/locks/{self._key(source, table, target).rsplit('/', 1)[-1]}.lock"

    # -- read / create ----------------------------------------------------
    def get(self, source: str, table: str, target: str) -> dict[str, Any]:
        doc = self.backend.get(self._key(source, table, target))
        if doc is None:
            doc = default_watermark()
            self._save(source, table, target, doc)
        return doc

    def _save(self, source: str, table: str, target: str, doc: dict) -> None:
        """Save with bounded exponential-backoff retry (reference :501-549)."""
        key = self._key(source, table, target)
        last_err: Exception | None = None
        for attempt in range(self.max_retries):
            try:
                self.backend.put(key, doc)
                return
            except Exception as e:  # pragma: no cover - backend fault path
                last_err = e
                time.sleep(min(2 ** attempt, 8) * 0.01)
        raise RuntimeError(f"watermark save failed after {self.max_retries} attempts") from last_err

    # -- extraction-side (mysql_state) updates ----------------------------
    def start_sync(self, source: str, table: str, target: str) -> dict:
        doc = self.get(source, table, target)
        doc["mysql_state"]["status"] = "in_progress"
        doc["mysql_state"]["error"] = None
        doc["mysql_state"]["last_updated"] = _utcnow_iso()
        self._save(source, table, target, doc)
        return doc

    def update_extraction_state(
        self,
        source: str,
        table: str,
        target: str,
        *,
        last_timestamp: str | None = None,
        last_id: int | None = None,
        session_rows: int = 0,
        session_files: int = 0,
        status: str = "success",
        error: str | None = None,
    ) -> dict:
        """Commit extraction progress: cumulative totals + session figures.

        Mirrors the reference's cumulative accounting (:120-184):
        ``total_rows`` / ``s3_files_created`` accumulate across sessions,
        ``last_session_*`` are overwritten each commit.
        """
        doc = self.get(source, table, target)
        ms = doc["mysql_state"]
        if last_timestamp is not None:
            ms["last_timestamp"] = last_timestamp
        if last_id is not None:
            ms["last_id"] = last_id
        ms["total_rows"] = int(ms.get("total_rows") or 0) + int(session_rows)
        ms["last_session_rows"] = int(session_rows)
        ms["s3_files_created"] = int(ms.get("s3_files_created") or 0) + int(session_files)
        ms["last_session_files"] = int(session_files)
        ms["status"] = status
        ms["error"] = error
        ms["last_updated"] = _utcnow_iso()
        self._save(source, table, target, doc)
        return doc

    # -- load-side (redshift_state) updates -------------------------------
    def start_load(self, source: str, table: str, target: str) -> dict:
        """Mark the load stage in progress (the reference loader flips the
        redshift-side status while COPYing)."""
        doc = self.get(source, table, target)
        doc["redshift_state"]["status"] = "in_progress"
        doc["redshift_state"]["error"] = None
        self._save(source, table, target, doc)
        return doc

    def update_load_state(
        self,
        source: str,
        table: str,
        target: str,
        *,
        n_files: int = 0,
        status: str = "success",
        error: str | None = None,
    ) -> dict:
        """Record the load commit: ``n_files`` files reached the target.

        Which files they were is recorded once, in the staging-side parquet
        manifest (``operators.manifest.ParquetManifest``), the reference's
        ``processed_files`` blacklist (reference :186-229). The doc keeps
        only the cumulative count, so it stays O(1) size at millions of
        files.

        Note the subtlety preserved from the reference: load-side row counts
        are NOT updated here — only via :meth:`update_target_count`
        (reference ``update_redshift_count_from_external`` :251-277).
        """
        doc = self.get(source, table, target)
        rs = doc["redshift_state"]
        rs["last_session_files"] = int(n_files)
        rs["files_loaded_total"] = \
            int(rs.get("files_loaded_total") or 0) + int(n_files)
        rs["last_session_rows"] = 0  # counts come only from external count
        rs["status"] = status
        rs["error"] = error
        self._save(source, table, target, doc)
        return doc

    def reconcile_file_counters(self, source: str, table: str, target: str) -> dict:
        """After a recovery load pass has fully accounted for staging
        (everything staged is either loaded or in the manifest), lift the
        cumulative loaded counter to the staged counter so the no-op
        sync's leftover gate (plans.sync._staging_may_have_leftovers)
        goes quiet again. Counters only — row totals stay external-count
        driven."""
        doc = self.get(source, table, target)
        staged = int(doc["mysql_state"].get("s3_files_created") or 0)
        rs = doc["redshift_state"]
        rs["files_loaded_total"] = max(
            int(rs.get("files_loaded_total") or 0), staged)
        self._save(source, table, target, doc)
        return doc

    def update_target_count(self, source: str, table: str, target: str, count: int) -> dict:
        doc = self.get(source, table, target)
        prev = int(doc["redshift_state"].get("total_rows") or 0)
        doc["redshift_state"]["total_rows"] = int(count)
        doc["redshift_state"]["last_session_rows"] = int(count) - prev
        self._save(source, table, target, doc)
        return doc

    # -- ops/reporting surface (reference :323-363) ------------------------
    def get_summary(self, source: str, table: str, target: str) -> dict[str, Any]:
        """Comprehensive per-table stats (reference ``get_summary``
        :323-363): extraction + load totals, cursor, file counts."""
        doc = self.get(source, table, target)
        ms, rs = doc.get("mysql_state", {}), doc.get("redshift_state", {})
        return {
            "table_name": table,
            "mysql_total_rows": ms.get("total_rows", 0),
            "mysql_last_session_rows": ms.get("last_session_rows", 0),
            "mysql_status": ms.get("status", "pending"),
            "mysql_last_timestamp": ms.get("last_timestamp"),
            "mysql_last_id": ms.get("last_id"),
            "mysql_last_updated": ms.get("last_updated"),
            "redshift_total_rows": rs.get("total_rows", 0),
            "redshift_last_session_rows": rs.get("last_session_rows", 0),
            "redshift_status": rs.get("status", "pending"),
            "total_processed_files": int(rs.get("files_loaded_total") or 0),
            "created_at": doc.get("metadata", {}).get("created_at"),
            "manual_override": doc.get("metadata", {}).get("manual_override", False),
        }

    # -- manual override / reset ------------------------------------------
    def set_manual(
        self,
        source: str,
        table: str,
        target: str,
        *,
        last_timestamp: str | None = None,
        last_id: int | None = None,
    ) -> dict:
        """Manual watermark set (reference :364-385); consumed by every CDC
        strategy as id/ts override (cdc_strategy_engine.py:199-217)."""
        doc = self.get(source, table, target)
        if last_timestamp is not None:
            doc["mysql_state"]["last_timestamp"] = last_timestamp
        if last_id is not None:
            doc["mysql_state"]["last_id"] = last_id
        doc["mysql_state"]["status"] = "pending"
        doc["metadata"]["manual_override"] = True
        self._save(source, table, target, doc)
        return doc

    def reset(self, source: str, table: str, target: str) -> dict:
        """Fresh-sync reset (reference :387-406). The loaded-file record is
        the parquet manifest, not the doc, so the reference's
        ``preserve_files`` choice is made where the manifest lives (the
        CLI's ``watermark reset [--preserve-files]``)."""
        doc = default_watermark()
        self._save(source, table, target, doc)
        return doc

    # -- advisory locks ----------------------------------------------------
    def acquire_lock(self, source: str, table: str, target: str) -> str:
        """Exclusive advisory lock object (reference :408-463). Uses the
        backend's atomic ``put_if_absent`` when available so two concurrent
        drivers cannot both pass an exists() check (the reference's S3
        backend has only the racy head-then-put; the local backend does
        better via O_CREAT|O_EXCL)."""
        lk = self._lock_key(source, table, target)
        token = str(uuid.uuid4())
        payload = {
            "token": token,
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "acquired_at": _utcnow_iso(),
        }
        if hasattr(self.backend, "put_if_absent"):
            if not self.backend.put_if_absent(lk, payload):
                holder = self.backend.get(lk) or {}
                raise LockHeldError(
                    f"lock held by {holder.get('host')}:{holder.get('pid')}")
            return token
        if self.backend.exists(lk):  # racy fallback, matches reference S3
            holder = self.backend.get(lk) or {}
            raise LockHeldError(f"lock held by {holder.get('host')}:{holder.get('pid')}")
        self.backend.put(lk, payload)
        return token

    def release_lock(self, source: str, table: str, target: str, token: str) -> bool:
        lk = self._lock_key(source, table, target)
        held = self.backend.get(lk)
        if held and held.get("token") == token:
            self.backend.delete(lk)
            return True
        return False
