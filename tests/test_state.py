"""Watermark store unit tests — pure Python, no Spark.

Scenarios mirror the reference's watermark test suite (SURVEY §5:
tests/unit/test_simple_watermark_manager.py — default creation, cumulative
sums, session totals, reset preserve_files, locks). The reference's
blacklist lives in the parquet manifest here, so its dedup is pinned in
test_manifest_store.py."""

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from s3_redshift_backup_tool_spark.cli import main
from s3_redshift_backup_tool_spark.state import (
    LocalJsonBackend, LockHeldError, WatermarkStore)

SRC, TBL, TGT = "us_dw:settlement.orders", "orders", "redshift_default"


@pytest.fixture()
def store(tmp_path):
    return WatermarkStore(LocalJsonBackend(str(tmp_path)))


def test_default_creation(store):
    doc = store.get(SRC, TBL, TGT)
    assert doc["version"] == "2.0"
    assert doc["mysql_state"]["status"] == "pending"
    assert doc["mysql_state"]["total_rows"] == 0
    # the loaded-file record is the parquet manifest, never the doc
    assert "processed_files" not in doc
    assert "last_loaded_files" not in doc["redshift_state"]
    # persisted on first get
    assert store.backend.get(store._key(SRC, TBL, TGT)) is not None


def test_cumulative_extraction_totals(store):
    store.update_extraction_state(SRC, TBL, TGT, last_id=100,
                                  session_rows=1000, session_files=2)
    store.update_extraction_state(SRC, TBL, TGT, last_id=250,
                                  session_rows=500, session_files=1)
    doc = store.get(SRC, TBL, TGT)
    ms = doc["mysql_state"]
    assert ms["total_rows"] == 1500          # cumulative
    assert ms["last_session_rows"] == 500    # overwritten
    assert ms["s3_files_created"] == 3
    assert ms["last_session_files"] == 1
    assert ms["last_id"] == 250


def test_target_count_external_only(store):
    # load-state update must NOT move target row counts (reference
    # update_redshift_count_from_external :251-277 is the only path)
    store.update_load_state(SRC, TBL, TGT, n_files=1)
    assert store.get(SRC, TBL, TGT)["redshift_state"]["total_rows"] == 0
    store.update_target_count(SRC, TBL, TGT, 1234)
    doc = store.get(SRC, TBL, TGT)
    assert doc["redshift_state"]["total_rows"] == 1234
    assert doc["redshift_state"]["last_session_rows"] == 1234
    store.update_target_count(SRC, TBL, TGT, 1500)
    doc = store.get(SRC, TBL, TGT)
    assert doc["redshift_state"]["last_session_rows"] == 266


def test_manual_override_and_reset_preserve_files(tmp_path, capsys):
    """The doc reset always starts fresh; ``--preserve-files`` decides
    whether the table's parquet manifest (the loaded-file record) survives.
    No Spark session: the manifest is written and checked with pyarrow."""
    work = str(tmp_path / "work")
    store = WatermarkStore(LocalJsonBackend(os.path.join(work, "state")))
    store.update_extraction_state("src", "orders", "tgt", last_id=7,
                                  session_rows=10, session_files=1)
    store.update_load_state("src", "orders", "tgt", n_files=1)
    store.set_manual("src", "orders", "tgt",
                     last_timestamp="2026-01-01 00:00:00", last_id=42)
    doc = store.get("src", "orders", "tgt")
    assert doc["metadata"]["manual_override"] is True
    assert doc["mysql_state"]["last_id"] == 42

    mdir = os.path.join(work, "staging", "orders", "_manifest")
    os.makedirs(mdir)
    pq.write_table(pa.table({"path": ["/stage/a.parquet"]}),
                   os.path.join(mdir, "part-0.parquet"))

    def reset(*flags):
        assert main(["watermark", "reset", "-t", "orders", "--work-dir", work,
                     *flags]) == 0
        return json.loads(capsys.readouterr().out)

    doc = reset("--preserve-files")
    assert doc["mysql_state"]["last_id"] is None
    assert doc["mysql_state"]["total_rows"] == 0
    assert doc["redshift_state"].get("files_loaded_total", 0) == 0
    assert glob.glob(os.path.join(mdir, "*.parquet"))   # survived reset

    doc = reset()
    assert doc["mysql_state"]["last_id"] is None
    assert not os.path.exists(mdir)                     # cleared


def test_lock_exclusion(store):
    token = store.acquire_lock(SRC, TBL, TGT)
    with pytest.raises(LockHeldError):
        store.acquire_lock(SRC, TBL, TGT)
    assert not store.release_lock(SRC, TBL, TGT, "wrong-token")
    assert store.release_lock(SRC, TBL, TGT, token)
    store.acquire_lock(SRC, TBL, TGT)  # re-acquirable after release


@pytest.mark.filterwarnings("error::pytest.PytestUnhandledThreadExceptionWarning")
def test_lock_acquire_is_atomic(store):
    """Concurrent acquirers race through put_if_absent; exactly one wins
    and EVERY loser gets the contractual LockHeldError — never a
    JSONDecodeError from observing a partially-written lock payload
    (tmp + os.link makes the payload atomically visible)."""
    import threading

    results: list[str | None] = []
    errors: list[BaseException] = []

    def _try():
        try:
            results.append(store.acquire_lock(SRC, "race_tbl", TGT))
        except LockHeldError:
            results.append(None)
        except BaseException as e:  # noqa: BLE001 — the assertion target
            errors.append(e)

    threads = [threading.Thread(target=_try) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], f"losers must raise LockHeldError, got {errors!r}"
    winners = [r for r in results if r is not None]
    assert len(winners) == 1
    assert len(results) == 8  # every loser reported via LockHeldError


def test_summary_and_file_stats(store):
    """The summary carries the ops file stats: the count of loaded files
    is the cumulative files_loaded_total counter (the paths themselves
    are in the parquet manifest)."""
    store.update_extraction_state(SRC, TBL, TGT, last_timestamp="2024-01-01 00:00:00",
                                  last_id=42, session_rows=100, session_files=3)
    store.update_load_state(SRC, TBL, TGT, n_files=2)
    store.update_target_count(SRC, TBL, TGT, 100)

    s = store.get_summary(SRC, TBL, TGT)
    assert s["mysql_total_rows"] == 100 and s["mysql_last_id"] == 42
    assert s["redshift_total_rows"] == 100
    assert s["total_processed_files"] == 2
    assert s["mysql_status"] == "success"


def test_summary_manifest_mode_counts(store):
    """The doc carries no path array; summary counts files from the
    cumulative files_loaded_total metadata."""
    store.update_load_state(SRC, "m_tbl", TGT, n_files=7)
    store.update_load_state(SRC, "m_tbl", TGT, n_files=5)
    s = store.get_summary(SRC, "m_tbl", TGT)
    assert s["total_processed_files"] == 12
    assert "processed_files" not in store.get(SRC, "m_tbl", TGT)

