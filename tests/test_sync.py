"""End-to-end sync plan: extract -> stage -> load -> verify, with resume,
idempotency and full_sync-replace semantics (reference lifecycle SURVEY §3.1)."""

import os

import pytest
from pyspark.sql import functions as F

from s3_redshift_backup_tool_spark.plans.pipeline import (
    PipelineConfig, TableConfig, adhoc_pipeline, pipeline_from_dict)
from s3_redshift_backup_tool_spark.plans.sync import sync_pipeline, sync_table
from s3_redshift_backup_tool_spark.state import LocalJsonBackend, WatermarkStore


@pytest.fixture()
def store(tmp_path):
    return WatermarkStore(LocalJsonBackend(str(tmp_path / "state")))


def _orders_cfg():
    return TableConfig(table_name="orders", cdc_strategy="hybrid",
                       cdc_timestamp_column="o_orderdate",
                       cdc_id_column="o_orderkey")


def test_full_then_incremental_then_noop(spark, orders, store, tmp_path):
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()

    # run 1: fresh watermark -> everything extracted and loaded
    r1 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)
    total = orders.count()
    assert r1.rows_extracted == total
    assert r1.files_loaded == r1.files_staged > 0
    assert r1.target_rows == total
    assert r1.verified

    # run 2: no new source rows -> 0 extracted, 0 loaded (idempotent)
    r2 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)
    assert r2.rows_extracted == 0
    assert r2.files_loaded == 0
    assert spark.read.parquet(target).count() == total
    assert r2.verified

    # run 3: simulate 100 new source rows by rolling the watermark back
    wm_doc = store.get("src", "orders", "tgt")
    keyset = (orders.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
                    .limit(101).collect())
    boundary = keyset[-1]
    store.set_manual("src", "orders", "tgt",
                     last_timestamp=boundary["o_orderdate"].strftime("%Y-%m-%d %H:%M:%S"),
                     last_id=boundary["o_orderkey"])
    # preserve_files=False here would double-load; keep the blacklist
    r3 = sync_table(spark, orders, cfg, store,
                    staging_path=str(tmp_path / "staging2"), target_path=target)
    assert r3.rows_extracted == 100
    assert spark.read.parquet(target).count() == total + 100  # appended dupes (expected)
    assert wm_doc["mysql_state"]["total_rows"] == total


def test_partitioned_staging_layout(spark, orders, store, tmp_path):
    staging = str(tmp_path / "staging")
    sync_table(spark, orders, _orders_cfg(), store,
               staging_path=staging, target_path=str(tmp_path / "t"))
    # F11: Hive-style year=/month=/day= partition dirs
    years = [d for d in os.listdir(staging) if d.startswith("year=")]
    assert years, f"expected year= partitions, got {os.listdir(staging)}"
    sub = os.path.join(staging, years[0])
    assert any(d.startswith("month=") for d in os.listdir(sub))


def test_full_sync_replace_overwrites(spark, store, tmp_path):
    from s3_redshift_backup_tool_spark.sources.readers import read_table
    region = read_table(spark, "/root/testdata/sf0.001", "region")
    cfg = TableConfig(table_name="region", cdc_strategy="full_sync",
                      full_sync_mode="replace")
    target = str(tmp_path / "target")
    for i in range(2):  # second run must NOT double rows (truncate-then-load)
        r = sync_table(spark, region, cfg, store,
                       staging_path=str(tmp_path / f"s{i}"), target_path=target)
    assert spark.read.parquet(target).count() == region.count()
    assert r.verified


def test_quality_gate_blocks_bad_batch(spark, store, tmp_path):
    df = spark.createDataFrame([(1, None), (2, None)], "id long, v string")
    cfg = TableConfig(table_name="bad", cdc_strategy="id_only", cdc_id_column="id")
    with pytest.raises(ValueError, match="quality gate"):
        sync_table(spark, df, cfg, store,
                   staging_path=str(tmp_path / "s"), target_path=str(tmp_path / "t"),
                   quality_gate=True, quality_opts={"not_null_cols": ["v"]})
    assert store.get("src", "bad", "tgt")["mysql_state"]["status"] == "failed"


def test_pipeline_multi_table_and_yaml(spark, store, tmp_path, sf_dir):
    doc = {
        "pipeline": {"name": "p1", "source": "sf", "target": "wh",
                     "processing": {"batch_size": 50000}, "max_workers": 2},
        "tables": {
            "orders": {"cdc_strategy": "hybrid",
                       "cdc_timestamp_column": "o_orderdate",
                       "cdc_id_column": "o_orderkey",
                       "processing": {"batch_size": 100}},
            "events": {"cdc_strategy": "id_only", "cdc_id_column": "event_id",
                       "target_name": "events_renamed"},
            "region": {"cdc_strategy": "full_sync"},
        },
    }
    pipe = pipeline_from_dict(doc)
    assert pipe.effective_batch_size(pipe.tables[0]) == 100      # table wins
    assert pipe.effective_batch_size(pipe.tables[1]) == 50000    # pipeline default

    def read_source(name):
        from s3_redshift_backup_tool_spark.sources.readers import read_table
        return read_table(spark, sf_dir, name)

    results = sync_pipeline(spark, pipe, store, read_source, str(tmp_path / "wh"))
    assert set(results) == {"orders", "events", "region"}
    assert all(r.verified for r in results.values())
    assert os.path.exists(str(tmp_path / "wh/target/events_renamed"))


def test_dependency_ordering():
    pipe = PipelineConfig(name="p", source="s", target="t", tables=[
        TableConfig(table_name="c", depends_on=["b"]),
        TableConfig(table_name="b", depends_on=["a"]),
        TableConfig(table_name="a"),
    ])
    assert [t.table_name for t in pipe.topo_ordered_tables()] == ["a", "b", "c"]


def test_adhoc_pipeline():
    p = adhoc_pipeline("mysql_src", "rs_tgt", _orders_cfg())
    assert p.name == "adhoc_mysql_src_rs_tgt"
    assert len(p.tables) == 1


def test_run_log_accumulates_history(spark, orders, tmp_path):
    """Every sync_pipeline run appends one row per table to the parquet
    run log; history is queryable as a DataFrame."""
    from s3_redshift_backup_tool_spark.plans.pipeline import pipeline_from_dict
    from s3_redshift_backup_tool_spark.plans.sync import (
        read_run_log, sync_pipeline)
    from s3_redshift_backup_tool_spark.state import (
        LocalJsonBackend, WatermarkStore)

    work = str(tmp_path / "work")
    store = WatermarkStore(LocalJsonBackend(work + "/state"))
    pipe = pipeline_from_dict({
        "pipeline": {"name": "p", "source": "s", "target": "t"},
        "tables": {"orders": {"cdc_strategy": "hybrid",
                              "cdc_timestamp_column": "o_orderdate",
                              "cdc_id_column": "o_orderkey"}}})
    sync_pipeline(spark, pipe, store, lambda n: orders, work)
    sync_pipeline(spark, pipe, store, lambda n: orders, work)

    log = read_run_log(spark, work)
    rows = log.orderBy("run_at").collect()
    assert len(rows) == 2
    assert rows[0]["rows_extracted"] > 0       # first run: full extract
    assert rows[1]["rows_extracted"] == 0      # second run: idempotent
    assert all(r["verified"] for r in rows)
    assert rows[0]["run_id"] != rows[1]["run_id"]


def test_noop_sync_skips_staging_listing(spark, orders, store, tmp_path,
                                         monkeypatch):
    """The clean no-op sync (cron's common case) must not pay a staging
    inventory listing: the watermark doc's staged/loaded counters prove
    there are no leftovers (round-3 verdict scale fix)."""
    from s3_redshift_backup_tool_spark.plans import sync as sync_mod

    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()
    sync_table(spark, orders, cfg, store,
               staging_path=staging, target_path=target)

    calls = []
    real = sync_mod._staged_files
    monkeypatch.setattr(sync_mod, "_staged_files",
                        lambda sp, p: calls.append(p) or real(sp, p))
    r = sync_table(spark, orders, cfg, store,
                   staging_path=staging, target_path=target)
    assert r.rows_extracted == 0 and r.verified
    assert calls == [], f"no-op sync listed staging: {calls}"


def test_noop_sync_recovers_when_load_never_committed(spark, orders, store,
                                                     tmp_path):
    """Crash window between extraction commit and load commit: the staged
    counter runs ahead of the loaded counter, so the next (empty-delta)
    sync must still discover and load the stranded files."""
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()
    r1 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)

    # simulate the crash: roll the loaded counter back and wipe target +
    # manifest, as if the load stage never happened
    doc = store.get("src", "orders", "tgt")
    doc["redshift_state"]["files_loaded_total"] = 0
    doc["redshift_state"]["status"] = "in_progress"
    store.backend.put(store._key("src", "orders", "tgt"), doc)
    import shutil
    shutil.rmtree(target)
    shutil.rmtree(os.path.join(staging, "_manifest"))

    r2 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)
    assert r2.rows_extracted == 0
    assert r2.files_loaded == r1.files_staged        # stranded files loaded
    assert spark.read.parquet(target).count() == orders.count()

    # counters resynced: the NEXT no-op pays no listing again
    doc = store.get("src", "orders", "tgt")
    assert not sync_mod_leftovers(doc)


def sync_mod_leftovers(doc):
    from s3_redshift_backup_tool_spark.plans.sync import (
        _staging_may_have_leftovers)
    return _staging_may_have_leftovers(doc)


def test_staging_partitions_floor_on_small_batches(spark, orders):
    """Small batches keep full write parallelism: the estimate-derived
    count never drops below the floor (AQE would otherwise coalesce the
    staging shuffle to one serial writer task)."""
    from s3_redshift_backup_tool_spark.plans.sync import staging_partitions
    assert staging_partitions(orders, 32) == 32


def test_staging_partitions_scales_with_estimate(spark):
    """The count grows with Catalyst's size estimate (~target_bytes per
    partition) and is clamped at the cap even for unknown (Long.Max)
    estimates — never overflows, never returns a number above cap."""
    from s3_redshift_backup_tool_spark.plans.sync import staging_partitions

    big = spark.range(0, 10_000_000).selectExpr(
        "id", "repeat('x', 64) AS pad")
    n = staging_partitions(big, 4, target_bytes=1 << 20, cap=10_000)
    assert 4 < n <= 10_000
    # cap clamps: a tiny target forces need >> cap
    assert staging_partitions(big, 4, target_bytes=1, cap=7) == 7


def _two_syncs(spark, orders, cfg, store, staging, target, split="1999-01-01"):
    """A base sync of the rows before ``split``, then a delta sync of the
    rest: the second call is an ordinary incremental sync."""
    base = orders.filter(F.col("o_orderdate") < F.lit(split).cast("timestamp"))
    r1 = sync_table(spark, base, cfg, store,
                    staging_path=staging, target_path=target)
    r2 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)
    return r1, r2


def test_staged_files_on_missing_path_does_not_read(spark, tmp_path,
                                                    monkeypatch):
    """Every first sync lists a staging path that does not exist yet. The
    FileSystem answers that; a read attempt would fail inside the sync's
    Observation listener and log a PATH_NOT_FOUND error."""
    from pyspark.sql.readwriter import DataFrameReader

    from s3_redshift_backup_tool_spark.plans import sync as sync_mod

    reads = []
    real = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet",
                        lambda self, *p, **kw: reads.append(p) or real(self, *p, **kw))
    assert sync_mod._staged_files(spark, str(tmp_path / "missing")) == []
    assert reads == []


def test_sync_with_file_uris(spark, orders, store, tmp_path):
    """Staging and target given as file:// URIs: existence checks go
    through the Hadoop FileSystem, so the A7 count sees the target."""
    staging = (tmp_path / "staging").as_uri()
    target = (tmp_path / "target").as_uri()
    total = orders.count()
    r1, r2 = _two_syncs(spark, orders, _orders_cfg(), store, staging, target)
    assert r1.verified and r1.target_rows == r1.rows_extracted > 0
    assert r2.rows_extracted == total - r1.rows_extracted > 0
    assert r2.files_loaded == r2.files_staged > 0
    assert r2.target_rows == total and r2.verified
    assert spark.read.parquet(target).select("o_orderkey").distinct().count() == total


def test_delta_sync_lists_staging_twice_and_scans_manifest_twice(
        spark, orders, store, tmp_path, monkeypatch):
    """One delta sync lists staging before and after its write, and asks
    the manifest twice: the to-load anti-join and record's dedup."""
    from s3_redshift_backup_tool_spark.operators.manifest import ParquetManifest
    from s3_redshift_backup_tool_spark.plans import sync as sync_mod

    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()
    base = orders.filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    sync_table(spark, base, cfg, store, staging_path=staging, target_path=target)

    listings, manifest_reads = [], []
    real_list, real_paths = sync_mod._staged_files, ParquetManifest.paths_df
    monkeypatch.setattr(sync_mod, "_staged_files",
                        lambda sp, p: listings.append(p) or real_list(sp, p))
    monkeypatch.setattr(ParquetManifest, "paths_df",
                        lambda self: manifest_reads.append(1) or real_paths(self))
    r = sync_table(spark, orders, cfg, store, staging_path=staging, target_path=target)
    assert r.rows_extracted > 0 and r.files_loaded == r.files_staged > 0
    assert r.verified
    assert len(listings) <= 2, listings
    assert len(manifest_reads) <= 2, manifest_reads


def test_non_date_partition_columns_load_like_a_rooted_read(spark, orders,
                                                            store, tmp_path):
    """The load reads only the files it picked; basePath keeps a data
    partition column (staged as a hive directory, not in the files) on
    that read, so the target matches a read of the whole staging root."""
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = TableConfig(table_name="orders", cdc_strategy="hybrid",
                      cdc_timestamp_column="o_orderdate",
                      cdc_id_column="o_orderkey",
                      partition_columns=["o_orderstatus"])
    r1, r2 = _two_syncs(spark, orders, cfg, store, staging, target)
    assert r1.verified and r2.verified and r2.rows_extracted > 0
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(staging))
    got, rooted = spark.read.parquet(target), spark.read.parquet(staging)
    assert got.schema == rooted.schema
    assert "o_orderstatus" in got.columns
    assert got.exceptAll(rooted).isEmpty() and rooted.exceptAll(got).isEmpty()


def test_doc_from_older_code_still_syncs(spark, orders, store, tmp_path,
                                         capsys):
    """A watermark doc written before the JSON blacklist was retired
    carries a non-empty ``processed_files`` array and
    ``last_loaded_files``. It still loads, summarises and syncs: the load
    reads only the parquet manifest, and file counts come from
    ``files_loaded_total``."""
    import json

    from s3_redshift_backup_tool_spark.cli import main
    from s3_redshift_backup_tool_spark.plans import sync as sync_mod

    staging = str(tmp_path / "staging" / "orders")
    target = str(tmp_path / "target" / "orders")
    cfg = _orders_cfg()
    base = orders.filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    r1 = sync_table(spark, base, cfg, store, staging_path=staging, target_path=target)

    key = store._key("src", "orders", "tgt")
    old = store.backend.get(key)
    staged = sync_mod._staged_files(spark, staging)
    old["processed_files"] = staged + ["/elsewhere/x.parquet"]
    old["redshift_state"]["last_loaded_files"] = staged[:1]
    store.backend.put(key, old)
    loaded_total = old["redshift_state"]["files_loaded_total"]
    assert loaded_total == r1.files_loaded != len(old["processed_files"])

    assert store.get_summary("src", "orders", "tgt")["total_processed_files"] \
        == loaded_total
    assert main(["watermark", "count", "-t", "orders",
                 "--work-dir", str(tmp_path)]) == 0
    assert json.loads(capsys.readouterr().out)["processed_files"] == loaded_total

    r2 = sync_table(spark, orders, cfg, store, staging_path=staging, target_path=target)
    assert r2.rows_extracted == orders.count() - r1.rows_extracted > 0
    assert r2.files_loaded == r2.files_staged > 0 and r2.skipped_files == len(staged)
    assert r2.target_rows == orders.count() and r2.verified
    assert store.get_summary("src", "orders", "tgt")["total_processed_files"] \
        == r1.files_loaded + r2.files_loaded
