"""Crash-resume semantics.

Two dangerous windows exist between the watermark commit and the
blacklist commit:

1. crash AFTER the target write, BEFORE the blacklist commit — rows are
   in the target but the files look unloaded; naive recovery would
   double-load them.
2. crash BEFORE the target write — staged files are the rows' only copy
   (the watermark has moved past them); an overwrite-mode staging write
   or a short-circuiting empty-delta path would strand or clobber them.

Resume must be exactly-once in both: key-anti-join reconciliation covers
(1), append-mode staging + extraction-independent load discovery covers
(2)."""

from __future__ import annotations

import pytest

from s3_redshift_backup_tool_spark.plans.pipeline import TableConfig
from s3_redshift_backup_tool_spark.plans.sync import sync_table
from s3_redshift_backup_tool_spark.state import LocalJsonBackend, WatermarkStore


class _CrashAfterTargetWrite(WatermarkStore):
    """update_load_state raises once — the crash falls AFTER the target
    write (which sync_table performs just before this call)."""

    def __init__(self, backend):
        super().__init__(backend)
        self.crashed = False

    def update_load_state(self, *a, **kw):
        if not self.crashed:
            self.crashed = True
            raise RuntimeError("simulated crash after target write")
        return super().update_load_state(*a, **kw)


class _CrashBeforeWatermarkCommit(WatermarkStore):
    """update_extraction_state raises on its first success-commit — the
    crash falls AFTER the staging write but BEFORE the watermark moves.
    On resume the unchanged watermark re-extracts the same rows into
    fresh UUID files, so the combined staged set carries every row twice."""

    def __init__(self, backend):
        super().__init__(backend)
        self.crashed = False

    def update_extraction_state(self, *a, **kw):
        if not self.crashed and kw.get("status") == "success":
            self.crashed = True
            raise RuntimeError("simulated crash before watermark commit")
        return super().update_extraction_state(*a, **kw)


class _CrashBeforeLoadStage(WatermarkStore):
    """start_load raises once — the crash falls at the start of the
    load stage, BEFORE anything reached the target."""

    def __init__(self, backend):
        super().__init__(backend)
        self.crashed = False

    def start_load(self, *a, **kw):
        if not self.crashed:
            self.crashed = True
            raise RuntimeError("simulated crash before load stage")
        return super().start_load(*a, **kw)


@pytest.fixture()
def tc():
    return TableConfig(table_name="orders", cdc_strategy="hybrid",
                       cdc_timestamp_column="o_orderdate",
                       cdc_id_column="o_orderkey")


def _paths(tmp_path):
    return dict(staging_path=str(tmp_path / "stage"),
                target_path=str(tmp_path / "target"))


def test_crash_after_target_write_no_double_load(spark, orders, tc, tmp_path):
    backend = LocalJsonBackend(str(tmp_path / "state"))
    crashing = _CrashAfterTargetWrite(backend)
    kwargs = _paths(tmp_path)

    with pytest.raises(RuntimeError, match="after target write"):
        sync_table(spark, orders, tc, crashing, **kwargs)

    doc = crashing.get("src", "orders", "tgt")
    assert doc["mysql_state"]["total_rows"] == orders.count()
    assert "processed_files" not in doc          # doc stays metadata-only
    assert spark.read.parquet(kwargs["target_path"]).count() == orders.count()

    # resume: delta empty; the parquet manifest already records the files
    # (recorded before the doc commit), so nothing re-loads and the
    # target count reconciles
    store = WatermarkStore(backend)
    r = sync_table(spark, orders, tc, store, **kwargs)
    assert r.rows_extracted == 0 and r.files_loaded == 0
    assert r.target_rows == orders.count()       # no double-load
    assert r.verified

    r2 = sync_table(spark, orders, tc, store, **kwargs)
    assert r2.files_loaded == 0 and r2.verified  # clean no-op after


def test_crash_before_watermark_commit_no_double_append(spark, orders, tc,
                                                        tmp_path):
    """ADVICE r1: the re-extracted duplicate files must not append every
    row twice — _load_reconciled dedups by key before the target anti-join."""
    backend = LocalJsonBackend(str(tmp_path / "state"))
    crashing = _CrashBeforeWatermarkCommit(backend)
    kwargs = _paths(tmp_path)

    with pytest.raises(RuntimeError, match="before watermark commit"):
        sync_table(spark, orders, tc, crashing, **kwargs)

    doc = crashing.get("src", "orders", "tgt")
    assert doc["mysql_state"]["total_rows"] == 0     # wm never advanced
    import os
    assert not os.path.exists(kwargs["target_path"])  # nothing loaded

    # resume: same rows re-extracted into NEW files; both copies staged,
    # neither blacklisted — the target must still get each row exactly once
    store = WatermarkStore(backend)
    r = sync_table(spark, orders, tc, store, **kwargs)
    assert r.rows_extracted == orders.count()
    assert r.target_rows == orders.count()           # no double append
    assert (spark.read.parquet(kwargs["target_path"])
                 .select("o_orderkey").distinct().count() == orders.count())
    assert r.verified

    r2 = sync_table(spark, orders, tc, store, **kwargs)
    assert r2.rows_extracted == 0 and r2.verified    # clean no-op after


def test_crash_before_load_stage_no_data_loss(spark, orders, tc, tmp_path):
    backend = LocalJsonBackend(str(tmp_path / "state"))
    crashing = _CrashBeforeLoadStage(backend)
    kwargs = _paths(tmp_path)

    with pytest.raises(RuntimeError, match="before load stage"):
        sync_table(spark, orders, tc, crashing, **kwargs)

    doc = crashing.get("src", "orders", "tgt")
    assert doc["mysql_state"]["total_rows"] == orders.count()  # wm advanced
    import os
    assert not os.path.exists(kwargs["target_path"])           # nothing loaded

    # resume: the staged files are the rows' ONLY copy — they must land
    store = WatermarkStore(backend)
    r = sync_table(spark, orders, tc, store, **kwargs)
    assert r.rows_extracted == 0
    assert r.files_loaded > 0
    assert r.target_rows == orders.count()
    assert r.verified


def test_partial_load_recovery_is_exactly_once(spark, orders, tc, tmp_path):
    """Crash mid-load: some files in target+blacklist, some only staged,
    and one file in target but NOT blacklisted (the per-file window).
    Recovery must load exactly the missing rows."""
    backend = LocalJsonBackend(str(tmp_path / "state"))
    crashing = _CrashBeforeLoadStage(backend)
    kwargs = _paths(tmp_path)
    with pytest.raises(RuntimeError):
        sync_table(spark, orders, tc, crashing, **kwargs)

    import glob
    staged = sorted(glob.glob(str(tmp_path / "stage" / "**" / "*.parquet"),
                              recursive=True))
    assert len(staged) >= 3
    loaded_and_tracked = staged[: len(staged) // 3]
    loaded_untracked = staged[len(staged) // 3: len(staged) // 2]

    store = WatermarkStore(backend)
    if loaded_and_tracked:
        from s3_redshift_backup_tool_spark.operators.manifest import (
            ParquetManifest, files_df)
        spark.read.parquet(*loaded_and_tracked).write.mode("append") \
             .parquet(kwargs["target_path"])
        manifest = ParquetManifest(
            spark, str(tmp_path / "stage" / "_manifest"))
        manifest.record(files_df(spark, loaded_and_tracked))
        store.update_load_state("src", "orders", "tgt",
                                n_files=len(loaded_and_tracked),
                                status="failed")
    if loaded_untracked:
        spark.read.parquet(*loaded_untracked).write.mode("append") \
             .parquet(kwargs["target_path"])

    r = sync_table(spark, orders, tc, store, **kwargs)
    assert r.target_rows == orders.count()       # every row exactly once
    assert r.verified


def test_append_staging_preserves_stranded_files_across_new_delta(
        spark, orders, tc, tmp_path):
    """A NEW delta after a crash must not clobber stranded staged files
    (the old overwrite-mode staging did)."""
    backend = LocalJsonBackend(str(tmp_path / "state"))
    kwargs = _paths(tmp_path)

    # split by the CDC timestamp so the second batch is genuinely "later"
    early = orders.filter("o_orderdate < timestamp'1999-01-01 00:00:00'")
    late = orders
    assert 0 < early.count() < late.count()

    crashing = _CrashBeforeLoadStage(backend)
    with pytest.raises(RuntimeError):
        sync_table(spark, early, tc, crashing, **kwargs)

    # next run sees NEW rows (keys > 700): must stage them AND recover
    # the stranded early files
    store = WatermarkStore(backend)
    r = sync_table(spark, late, tc, store, **kwargs)
    assert r.rows_extracted == late.count() - early.count()
    assert r.target_rows == late.count()
    assert r.verified
