"""ParquetManifest: the 100 TB replacement for the JSON-array blacklist.

Round-1 verdict scale fix: at millions of staged files the watermark
document (one JSON array) and the driver-side set both explode. The
manifest is now a parquet table; membership is an anti-join and recording
is a distributed append — these tests pin that the watermark doc stays
O(1) size regardless of manifest cardinality and that exclusion stays an
anti-join, so the manifest itself is never collected.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from s3_redshift_backup_tool_spark.operators.manifest import (
    ParquetManifest, files_df)
from s3_redshift_backup_tool_spark.plans.pipeline import TableConfig
from s3_redshift_backup_tool_spark.plans.sync import sync_table
from s3_redshift_backup_tool_spark.state import LocalJsonBackend, WatermarkStore


@pytest.fixture()
def tc():
    return TableConfig(table_name="orders", cdc_strategy="hybrid",
                       cdc_timestamp_column="o_orderdate",
                       cdc_id_column="o_orderkey")


def test_record_is_dedup_append(spark, tmp_path):
    m = ParquetManifest(spark, str(tmp_path / "m"))
    a = files_df(spark, ["/f/1", "/f/2", "/f/3"])
    m.record(a)
    m.record(a)                                    # idempotent re-record
    m.record(files_df(spark, ["/f/3", "/f/4"]))    # overlap dedups
    assert m.count() == 4


def test_exclusion_is_anti_join_not_collected_filter(spark, tmp_path):
    m = ParquetManifest(spark, str(tmp_path / "m"))
    m.record(files_df(spark, [f"/f/{i}" for i in range(0, 100, 2)]))
    discovered = files_df(spark, [f"/f/{i}" for i in range(100)])
    out = m.exclude_loaded(discovered)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert out.count() == 50


def test_exclusion_ignores_duplicate_manifest_rows(spark, tmp_path):
    """A manifest holding the same path several times (written directly,
    not through ``record``) excludes exactly what a deduplicated one does,
    and the anti-join reads the manifest scan as is: no Aggregate (the
    plan form of a distinct) sits over it."""
    mpath = str(tmp_path / "m")
    dup = [f"/f/{i}" for i in range(0, 10, 2)] * 3 + ["/f/4"]
    spark.createDataFrame([(p,) for p in dup], "path string") \
        .withColumn("loaded_at", F.current_timestamp()) \
        .write.parquet(mpath)
    m = ParquetManifest(spark, mpath)
    assert m.count() == len(dup)
    out = m.exclude_loaded(files_df(spark, [f"/f/{i}" for i in range(10)]))
    assert sorted(r.path for r in out.collect()) == \
        [f"/f/{i}" for i in range(1, 10, 2)]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert "Aggregate" not in plan


def test_manifest_location_and_local_read(spark, tmp_path):
    """The manifest sits under ``<staging>/_manifest``; the Spark-free
    reader sees what ``record`` wrote and reads a missing manifest as an
    empty record."""
    from s3_redshift_backup_tool_spark.operators.manifest import (
        local_loaded_paths, manifest_path)
    staging = str(tmp_path / "stage")
    assert manifest_path(staging) == os.path.join(staging, "_manifest")
    assert local_loaded_paths(staging) == set()
    ParquetManifest(spark, manifest_path(staging)).record(
        files_df(spark, ["/f/1", "/f/2"]))
    assert local_loaded_paths(staging) == {"/f/1", "/f/2"}


def test_sync_with_50k_manifest_entries_keeps_doc_o1(spark, orders, tc,
                                                     tmp_path):
    """50K pre-existing manifest entries: the sync must still load exactly
    its own staged files, and the watermark JSON doc must stay tiny (the
    blacklist lives in the parquet table, not the doc)."""
    staging = str(tmp_path / "stage")
    manifest = ParquetManifest(spark, os.path.join(staging, "_manifest"))
    fake = spark.range(50_000).select(
        F.concat(F.lit("/already/loaded/file_"), F.col("id")).alias("path"))
    manifest.record(fake)
    assert manifest.count() == 50_000

    backend = LocalJsonBackend(str(tmp_path / "state"))
    store = WatermarkStore(backend)
    r = sync_table(spark, orders, tc, store,
                   staging_path=staging,
                   target_path=str(tmp_path / "target"))
    assert r.verified and r.rows_extracted == orders.count()
    assert r.files_loaded == r.files_staged > 0
    assert r.skipped_files == 0                    # fake paths don't collide

    # the doc carries counts only — no per-file array, O(1) size at any
    # manifest cardinality
    doc = store.get("src", "orders", "tgt")
    assert "processed_files" not in doc
    assert doc["redshift_state"]["files_loaded_total"] == r.files_loaded
    doc_path = glob.glob(str(tmp_path / "state" / "watermarks" / "v2" /
                             "*.json"))[0]
    assert os.path.getsize(doc_path) < 4096
    with open(doc_path) as f:
        assert "processed_files" not in json.load(f)

    # manifest gained exactly the session's files
    assert manifest.count() == 50_000 + r.files_loaded

    # idempotent re-run against the big manifest
    r2 = sync_table(spark, orders, tc, store,
                    staging_path=staging,
                    target_path=str(tmp_path / "target"))
    assert r2.rows_extracted == 0 and r2.files_loaded == 0 and r2.verified


def test_manifest_empty_subdirs_are_not_data(spark, tmp_path):
    """A manifest path holding only empty subdirectories (e.g. leftover
    marker dirs) must read as absent — not crash paths_df with a
    schema-inference error (round-3 advisor finding)."""
    from s3_redshift_backup_tool_spark.operators.manifest import ParquetManifest
    mpath = tmp_path / "_manifest"
    (mpath / "empty_marker").mkdir(parents=True)
    m = ParquetManifest(spark, str(mpath))
    assert m.paths_df().count() == 0
