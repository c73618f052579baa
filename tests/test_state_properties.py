"""Property-based tests (hypothesis) for the watermark state math —
the reference's subtlest logic (SURVEY §7.2): cumulative vs session
accounting, reset semantics and manual overrides. No Spark session
needed. The reference's blacklist is the parquet manifest here; its
union-dedup is pinned in test_manifest_store.py."""

from __future__ import annotations

import contextlib
import io
import os

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from s3_redshift_backup_tool_spark.cli import main
from s3_redshift_backup_tool_spark.operators.manifest import (
    local_loaded_paths, manifest_path)
from s3_redshift_backup_tool_spark.state import (
    LocalJsonBackend, WatermarkStore)


def _store(tmp):
    return WatermarkStore(LocalJsonBackend(str(tmp)))


sessions = st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=20)


@settings(max_examples=30, deadline=None)
@given(rows=sessions)
def test_cumulative_total_is_sum_of_sessions(tmp_path_factory, rows):
    store = _store(tmp_path_factory.mktemp("st"))
    for r in rows:
        store.update_extraction_state("s", "t", "g", session_rows=r,
                                      session_files=0, status="success")
    doc = store.get("s", "t", "g")
    assert doc["mysql_state"]["total_rows"] == sum(rows)
    assert doc["mysql_state"]["last_session_rows"] == rows[-1]


file_batches = st.lists(
    st.lists(st.text(alphabet="abcdef0123456789/", min_size=1, max_size=20),
             max_size=10),
    min_size=1, max_size=10)


@settings(max_examples=20, deadline=None)
@given(batches=file_batches, preserve=st.booleans())
def test_reset_preserve_files_keeps_exactly_blacklist(tmp_path_factory,
                                                      batches, preserve):
    """``watermark reset`` always starts the doc fresh; the table's
    loaded-file manifest survives exactly with ``--preserve-files`` and
    is gone without it. The manifest is written as record() appends it:
    one parquet file per load."""
    work = str(tmp_path_factory.mktemp("st"))
    store = _store(os.path.join(work, "state"))
    mpath = manifest_path(os.path.join(work, "staging", "t"))
    os.makedirs(mpath)
    all_files: set[str] = set()
    for i, batch in enumerate(batches):
        new = sorted(set(batch) - all_files)
        pq.write_table(pa.table({"path": pa.array(new, pa.string())}),
                       os.path.join(mpath, f"part-{i:05d}.parquet"))
        all_files |= set(new)
        store.update_load_state("s", "t", "g", n_files=len(new))
    store.update_extraction_state("s", "t", "g", session_rows=5,
                                  session_files=1, status="success")
    argv = ["watermark", "reset", "-t", "t", "--source", "s", "--target", "g",
            "--work-dir", work] + (["--preserve-files"] if preserve else [])
    with contextlib.redirect_stdout(io.StringIO()):
        assert main(argv) == 0
    doc = store.get("s", "t", "g")
    assert doc["mysql_state"]["total_rows"] == 0
    assert doc["mysql_state"]["status"] == "pending"
    assert doc["redshift_state"].get("files_loaded_total", 0) == 0
    assert "processed_files" not in doc
    assert local_loaded_paths(os.path.dirname(mpath)) == \
        (all_files if preserve else set())


@settings(max_examples=30, deadline=None)
@given(ids=st.lists(st.integers(min_value=0, max_value=10**12),
                    min_size=1, max_size=20))
def test_manual_override_always_wins_last(tmp_path_factory, ids):
    store = _store(tmp_path_factory.mktemp("st"))
    for i in ids:
        store.set_manual("s", "t", "g", last_id=i)
    doc = store.get("s", "t", "g")
    assert doc["mysql_state"]["last_id"] == ids[-1]
    assert doc["metadata"]["manual_override"] is True
