"""CLI surface: sync / watermark get|set|reset|count / s3clean, mirroring
the reference's operational verbs (src/cli/main.py, multi_schema_commands)."""

from __future__ import annotations

import json

import pytest

from s3_redshift_backup_tool_spark.cli import main


@pytest.fixture()
def pipeline_yml(tmp_path):
    p = tmp_path / "pipe.yml"
    p.write_text("""
pipeline:
  name: cli_test
  source: src
  target: tgt
tables:
  orders:
    cdc_strategy: hybrid
    cdc_timestamp_column: o_orderdate
    cdc_id_column: o_orderkey
  region:
    cdc_strategy: full_sync
    full_sync_mode: replace
    quality_gate: true
    not_null_cols: [r_regionkey, r_name]
""")
    return str(p)


def _run(capsys, argv):
    rc = main(argv)
    out = capsys.readouterr().out
    return rc, json.loads(out)


def test_sync_watermark_clean_roundtrip(capsys, pipeline_yml, tmp_path, sf_dir):
    work = str(tmp_path / "work")

    rc, out = _run(capsys, ["sync", "-p", pipeline_yml,
                            "--source-dir", sf_dir, "--work-dir", work,
                            "--cpus", "8"])
    assert rc == 0
    assert out["orders"]["verified"] and out["orders"]["rows_extracted"] > 0
    assert out["region"]["verified"]

    rc, wm = _run(capsys, ["watermark", "get", "-t", "orders",
                           "--work-dir", work])
    assert rc == 0 and wm["mysql_state"]["status"] == "success"

    rc, cnt = _run(capsys, ["watermark", "count", "-t", "orders",
                            "--work-dir", work])
    assert cnt["mysql_total_rows"] == out["orders"]["rows_extracted"]
    assert cnt["processed_files"] == out["orders"]["files_loaded"]

    # ops summary surface (reference get_summary :323-363)
    rc, summ = _run(capsys, ["watermark", "summary", "-t", "orders",
                             "--work-dir", work])
    assert rc == 0
    assert summ["mysql_total_rows"] == out["orders"]["rows_extracted"]
    assert summ["mysql_status"] == "success"
    assert summ["total_processed_files"] == out["orders"]["files_loaded"]

    # second sync: idempotent no-op
    rc, out2 = _run(capsys, ["sync", "-p", pipeline_yml,
                             "--source-dir", sf_dir, "--work-dir", work,
                             "-t", "orders", "--cpus", "8"])
    assert rc == 0 and out2["orders"]["rows_extracted"] == 0

    # manual override rewinds the cursor; next sync re-extracts a suffix
    rc, _ = _run(capsys, ["watermark", "set", "-t", "orders",
                          "--work-dir", work, "--id", "100",
                          "--timestamp", "1998-06-15 00:00:00"])
    assert rc == 0
    rc, out3 = _run(capsys, ["sync", "-p", pipeline_yml,
                             "--source-dir", sf_dir, "--work-dir", work,
                             "-t", "orders", "--cpus", "8"])
    assert rc == 0 and out3["orders"]["rows_extracted"] > 0

    # s3clean: dry-run reports, --confirm deletes loaded staged files
    rc, rep = _run(capsys, ["s3clean", "--work-dir", work])
    assert rc == 0 and rep["dry_run"] and rep["deletable"] > 0
    rc, rep2 = _run(capsys, ["s3clean", "--work-dir", work, "--confirm"])
    assert rep2["deleted"] == rep["deletable"]

    # reset --preserve-files keeps the loaded-file manifest (now a parquet
    # table under staging/<table>/_manifest, kept out of the JSON doc)
    import glob as _glob
    import os as _os
    manifest_glob = _os.path.join(work, "staging", "orders", "_manifest",
                                  "*.parquet")
    assert _glob.glob(manifest_glob)          # survived s3clean --confirm
    rc, doc = _run(capsys, ["watermark", "reset", "-t", "orders",
                            "--work-dir", work, "--preserve-files"])
    assert doc["mysql_state"]["status"] == "pending"
    assert _glob.glob(manifest_glob)          # preserved across reset
    # full reset clears it
    rc, doc = _run(capsys, ["watermark", "reset", "-t", "orders",
                            "--work-dir", work])
    assert not _glob.glob(manifest_glob)


def test_adhoc_sync_without_pipeline_yaml(capsys, tmp_path, sf_dir):
    """Reference `sync connections` ad-hoc mode (SURVEY §3.2): one table,
    CDC settings from flags, no YAML."""
    work = str(tmp_path / "work")
    rc, out = _run(capsys, ["sync", "-t", "orders",
                            "--strategy", "hybrid",
                            "--ts-column", "o_orderdate",
                            "--id-column", "o_orderkey",
                            "--source-dir", sf_dir, "--work-dir", work,
                            "--cpus", "8"])
    assert rc == 0
    assert out["orders"]["verified"] and out["orders"]["rows_extracted"] > 0

    rc2, out2 = _run(capsys, ["sync", "-t", "orders",
                              "--strategy", "hybrid",
                              "--ts-column", "o_orderdate",
                              "--id-column", "o_orderkey",
                              "--source-dir", sf_dir, "--work-dir", work,
                              "--cpus", "8"])
    assert rc2 == 0 and out2["orders"]["rows_extracted"] == 0  # idempotent

    # ad-hoc requires exactly one table
    rc3, err = _run(capsys, ["sync", "--source-dir", sf_dir,
                             "--work-dir", work])
    assert rc3 == 2 and "error" in err

    # `backup` is the reference's verb for the same operation — alias,
    # identical semantics (still idempotent against the same watermark)
    rc4, out4 = _run(capsys, ["backup", "-t", "orders",
                              "--strategy", "hybrid",
                              "--ts-column", "o_orderdate",
                              "--id-column", "o_orderkey",
                              "--source-dir", sf_dir, "--work-dir", work,
                              "--cpus", "8"])
    assert rc4 == 0 and out4["orders"]["rows_extracted"] == 0


def test_compact_verb(capsys, pipeline_yml, tmp_path, sf_dir):
    work = str(tmp_path / "work")
    rc, _ = _run(capsys, ["sync", "-p", pipeline_yml, "--source-dir", sf_dir,
                          "--work-dir", work, "-t", "orders", "--cpus", "8"])
    assert rc == 0
    rc, res = _run(capsys, ["compact", "-t", "orders", "--key", "o_orderkey",
                            "--ts-column", "o_orderdate", "--work-dir", work,
                            "--cpus", "8"])
    assert rc == 0
    assert res["rows_removed"] == 0 and res["rows_after"] == res["rows_before"]


def test_sync_unknown_table_errors(capsys, pipeline_yml, tmp_path, sf_dir):
    rc, out = _run(capsys, ["sync", "-p", pipeline_yml,
                            "--source-dir", sf_dir,
                            "--work-dir", str(tmp_path / "w"),
                            "-t", "nope"])
    assert rc == 2 and "error" in out


def test_optimize_verb(capsys, pipeline_yml, tmp_path, sf_dir):
    work = str(tmp_path / "work")
    rc, _ = _run(capsys, ["sync", "-p", pipeline_yml, "--source-dir", sf_dir,
                          "--work-dir", work, "-t", "orders", "--cpus", "8"])
    assert rc == 0
    rc, res = _run(capsys, ["optimize", "-t", "orders",
                            "--zorder", "o_custkey",
                            "--zorder", "o_totalprice",
                            "--n-files", "4", "--work-dir", work,
                            "--cpus", "8"])
    assert rc == 0
    assert res["files_after"] == 4 and res["rows"] > 0


def test_history_verb(capsys, pipeline_yml, tmp_path, sf_dir):
    work = str(tmp_path / "work")
    for _ in range(2):
        rc, _ = _run(capsys, ["sync", "-p", pipeline_yml,
                              "--source-dir", sf_dir, "--work-dir", work,
                              "-t", "orders", "--cpus", "8"])
        assert rc == 0
    rc, res = _run(capsys, ["history", "--work-dir", work, "--cpus", "8"])
    assert rc == 0 and len(res["runs"]) == 2
    assert res["runs"][0]["rows_extracted"] > 0
    assert res["runs"][1]["rows_extracted"] == 0


def test_markers_written_on_sync_and_checkable(capsys, pipeline_yml,
                                               tmp_path, sf_dir):
    work = str(tmp_path / "work")
    rc, _ = _run(capsys, ["sync", "-p", pipeline_yml, "-t", "orders",
                          "--source-dir", sf_dir, "--work-dir", work])
    assert rc == 0

    # Airflow-sensor contract: exit 0 + exists when the table synced clean
    rc, out = _run(capsys, ["markers", "check", "-t", "orders",
                            "--work-dir", work])
    assert rc == 0 and out["exists"]
    assert out["detail"]["table"] == "orders"
    assert out["detail"]["status"] == "SUCCESS"

    rc, out = _run(capsys, ["markers", "check", "-t", "cli_test",
                            "--kind", "pipeline", "--work-dir", work])
    assert rc == 0 and out["exists"]
    assert out["detail"]["tables"] == ["orders"]

    # a table that never synced -> exit 1 (sensor keeps waiting)
    rc, out = _run(capsys, ["markers", "check", "-t", "lineitem",
                            "--work-dir", work])
    assert rc == 1 and not out["exists"]

    rc, out = _run(capsys, ["markers", "list", "--work-dir", work])
    assert rc == 0 and len(out["markers"]) == 2


def test_markers_idempotent_first_writer_wins(tmp_path):
    from s3_redshift_backup_tool_spark.plans.markers import CompletionMarkers
    m = CompletionMarkers(str(tmp_path / "_completion_markers"))
    assert m.write_table_marker("orders", "SUCCESS", "run-1", "20260814")
    # same-day rerun must not overwrite (downstream freshness contract)
    assert not m.write_table_marker("orders", "SUCCESS", "run-2", "20260814")
    assert m.read("orders", date_str="20260814")["execution_id"] == "run-1"
    # a FAILED marker is a distinct key: both can exist for one day
    assert m.write_table_marker("orders", "FAILED", "run-3", "20260814")
    assert m.check("orders", "FAILED", "20260814")


def test_warehouse_verb(capsys, pipeline_yml, tmp_path, sf_dir):
    """sync -> warehouse load (embedded Derby) -> verified counts, from
    the operational surface."""
    work = str(tmp_path / "work")
    rc, _ = _run(capsys, ["sync", "-p", pipeline_yml, "--source-dir", sf_dir,
                          "--work-dir", work, "-t", "orders", "--cpus", "8"])
    assert rc == 0
    url = f"jdbc:derby:{tmp_path / 'wh'};create=true"
    target = f"{work}/target/orders"
    rc, res = _run(capsys, ["warehouse", "--target-path", target,
                            "--url", url, "--table", "WH_ORDERS",
                            "--mode", "append", "--cpus", "8"])
    assert rc == 0
    assert res["verified"] and res["warehouse_rows"] == res["rows_read"] > 0
    # replace keeps the table but swaps content
    rc, res = _run(capsys, ["warehouse", "--target-path", target,
                            "--url", url, "--table", "WH_ORDERS",
                            "--mode", "replace", "--cpus", "8"])
    assert rc == 0 and res["verified"]


def test_table_verb_versions_rollback_vacuum(capsys, spark, tmp_path):
    from s3_redshift_backup_tool_spark.plans.versioned import VersionedTable
    path = str(tmp_path / "tbl")
    t = VersionedTable(spark, path)
    t.commit(spark.range(3).selectExpr("id as v"))
    t.commit(spark.range(5).selectExpr("id as v"), mode="overwrite")

    rc, res = _run(capsys, ["table", "versions", "--path", path,
                            "--cpus", "8"])
    assert rc == 0 and res["versions"] == [1, 2] and res["current"] == 2
    rc, res = _run(capsys, ["table", "rollback", "--path", path,
                            "--version", "1", "--cpus", "8"])
    assert rc == 0 and res["current"] == 1
    rc, res = _run(capsys, ["table", "vacuum", "--path", path,
                            "--keep-last", "1", "--cpus", "8"])
    assert rc == 0 and res["deleted_files"] >= 0
    assert t.read().count() == 3                  # rolled-back state intact


def test_table_verb_merge(capsys, spark, tmp_path):
    from s3_redshift_backup_tool_spark.plans.versioned import VersionedTable
    path = str(tmp_path / "tbl")
    t = VersionedTable(spark, path)
    t.commit(spark.createDataFrame(
        [(k, f"a{k}") for k in range(4)], "k int, val string"))
    dpath = str(tmp_path / "delta")
    spark.createDataFrame([(2, "Z"), (9, "NEW")],
                          "k int, val string").write.parquet(dpath)

    rc, res = _run(capsys, ["table", "merge", "--path", path,
                            "--delta", dpath, "--keys", "k",
                            "--note", "m1", "--cpus", "8"])
    assert rc == 0 and res["version"] == 2
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got[2] == "Z" and got[9] == "NEW" and got[0] == "a0"
    assert t.find_note("m1") == 2

    # missing args -> usage error, not a stack trace
    rc = main(["table", "merge", "--path", path, "--cpus", "8"])
    capsys.readouterr()
    assert rc == 2


def test_table_verb_first_merge_on_empty_table(capsys, spark, tmp_path):
    """First-ever merge (no committed version yet) must succeed AND exit
    0: the commit-fallback regression left the manifest without
    rewritten_files, so the CLI crashed with KeyError after publishing
    version 1 — poison for idempotent retry scripts."""
    from s3_redshift_backup_tool_spark.plans.versioned import VersionedTable
    path = str(tmp_path / "tbl")
    dpath = str(tmp_path / "delta")
    spark.createDataFrame([(1, "x"), (2, "y")],
                          "k int, val string").write.parquet(dpath)
    rc, res = _run(capsys, ["table", "merge", "--path", path,
                            "--delta", dpath, "--keys", "k",
                            "--cpus", "8"])
    assert rc == 0
    assert res["version"] == 1 and res["rewritten_files"] == 0
    t = VersionedTable(spark, path)
    assert {r["k"] for r in t.read().collect()} == {1, 2}


def test_profile_verb(capsys, sf_dir):
    rc, res = _run(capsys, ["profile", "--source-dir", sf_dir,
                            "-t", "orders", "--cpus", "8"])
    assert rc == 0 and res["table"] == "orders"
    assert res["rows"] > 0
    cols = res["columns"]
    assert cols["o_orderkey"]["nulls"] == 0
    assert cols["o_orderkey"]["approx_distinct"] > 0
    assert "min" in cols["o_orderdate"] and "max" in cols["o_orderdate"]
    # every schema column profiled
    assert set(cols) == {"o_orderkey", "o_custkey", "o_orderstatus",
                         "o_totalprice", "o_orderdate", "o_orderpriority"}


def test_profile_verb_skips_minmax_for_arrays(capsys, sf_dir):
    rc, res = _run(capsys, ["profile", "--source-dir", sf_dir,
                            "-t", "embeddings", "--cpus", "8"])
    assert rc == 0
    emb = res["columns"]["embedding"]
    assert "min" not in emb and emb["approx_distinct"] > 0


def test_table_verb_compact(capsys, spark, tmp_path):
    from s3_redshift_backup_tool_spark.plans.versioned import VersionedTable
    path = str(tmp_path / "tbl")
    t = VersionedTable(spark, path)
    for i in range(3):
        t.commit(spark.range(i * 5, i * 5 + 5).selectExpr("id as v")
                      .coalesce(1))
    rc, res = _run(capsys, ["table", "compact", "--path", path,
                            "--target-mb", "512", "--cpus", "8"])
    assert rc == 0 and res["compacted"] == 3 and res["files_out"] == 1
    assert t.read().count() == 15


def test_table_verb_changes(capsys, spark, tmp_path):
    from s3_redshift_backup_tool_spark.plans.versioned import VersionedTable
    path = str(tmp_path / "tbl")
    t = VersionedTable(spark, path)
    t.commit(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, val string"))
    t.merge(spark.createDataFrame(
        [(2, "B"), (3, "c")], "k int, val string"), keys=["k"])
    out = str(tmp_path / "feed")
    rc, res = _run(capsys, ["table", "changes", "--path", path,
                            "--from-version", "1", "--version", "2",
                            "--keys", "k", "--out", out, "--cpus", "8"])
    assert rc == 0
    assert res["changes"] == {"update": 1, "insert": 1}
    feed = {r["k"]: r["_change"] for r in spark.read.parquet(out).collect()}
    assert feed == {2: "update", 3: "insert"}


def test_status_verb(capsys, pipeline_yml, tmp_path, sf_dir):
    work = str(tmp_path / "work")
    rc, _ = _run(capsys, ["sync", "-p", pipeline_yml,
                          "--source-dir", sf_dir, "--work-dir", work,
                          "--cpus", "8"])
    assert rc == 0
    rc, res = _run(capsys, ["status", "--work-dir", work])
    assert rc == 0 and res["all_in_sync"]
    t = res["tables"][0]
    assert t["source_rows_total"] == t["target_rows_total"] > 0
    assert t["status"] == "success" and t["last_id"] is not None

    # strict mode + empty work dir -> failure exit
    rc2 = main(["status", "--work-dir", str(tmp_path / "nope"),
                "--strict"])
    capsys.readouterr()
    assert rc2 == 1


def test_config_verb(capsys, pipeline_yml):
    rc, res = _run(capsys, ["config", "-p", pipeline_yml])
    assert rc == 0 and res["pipeline"]["name"]
    assert res["tables"] and "cdc_strategy" in res["tables"][0]


def test_column_mapping_verbs_and_sync_pickup(capsys, tmp_path, sf_dir):
    """Persisted rename maps (reference column_mapping_commands.py
    list/show/clear + column_mapper.py persistence): create via CLI,
    then an ad-hoc sync of the same work dir must pick the map up by
    table name and land renamed columns in the target."""
    import os
    work = str(tmp_path / "work")

    # empty list first
    rc, res = _run(capsys, ["column-mapping", "list", "--work-dir", work])
    assert rc == 0 and res["tables"] == []

    rc, res = _run(capsys, ["column-mapping", "set", "-t", "orders",
                            "--pair", "o_orderstatus=status_code",
                            "--json", '{"o_orderpriority": "priority"}',
                            "--work-dir", work])
    assert rc == 0 and res["mapping"] == {
        "o_orderstatus": "status_code", "o_orderpriority": "priority"}

    rc, res = _run(capsys, ["column-mapping", "list", "--work-dir", work])
    assert rc == 0 and res["tables"] == ["orders"]
    rc, res = _run(capsys, ["column-mapping", "show", "-t", "orders",
                            "--work-dir", work])
    assert rc == 0 and res["n_columns"] == 2

    # invalid target name -> usage error, nothing persisted
    rc, res = _run(capsys, ["column-mapping", "set", "-t", "bad",
                            "--pair", "a=9col", "--work-dir", work])
    assert rc == 2

    # e2e: ad-hoc sync picks up the persisted orders map
    rc, out = _run(capsys, ["sync", "-t", "orders",
                            "--strategy", "full_sync",
                            "--source-dir", sf_dir, "--work-dir", work,
                            "--cpus", "8"])
    assert rc == 0 and out["orders"]["verified"]
    import glob
    target = glob.glob(os.path.join(work, "target", "**", "*.parquet"),
                       recursive=True)
    assert target
    import pyarrow.parquet as pq
    cols = set(pq.read_schema(target[0]).names)
    assert "status_code" in cols and "priority" in cols
    assert "o_orderstatus" not in cols

    rc, res = _run(capsys, ["column-mapping", "clear", "-t", "orders",
                            "--work-dir", work])
    assert rc == 0 and res["cleared"] is True
    rc, res = _run(capsys, ["column-mapping", "show", "-t", "orders",
                            "--work-dir", work])
    assert rc == 1

    # clear-all over repopulated maps
    _run(capsys, ["column-mapping", "set", "-t", "a", "--pair", "x=y",
                  "--work-dir", work])
    _run(capsys, ["column-mapping", "set", "-t", "b", "--pair", "x=y",
                  "--work-dir", work])
    rc, res = _run(capsys, ["column-mapping", "clear-all",
                            "--work-dir", work])
    assert rc == 0 and res["cleared"] == 2


def test_info_verb(capsys):
    rc, res = _run(capsys, ["info"])
    assert rc == 0
    assert set(res["strategies"]) == {"timestamp_only", "hybrid", "id_only",
                                      "full_sync", "custom_sql"}
    assert "cdc_strategy" in res["table_config_keys"]
    assert res["registry_queries"] >= 152

    rc, res = _run(capsys, ["info", "--strategy", "hybrid"])
    assert rc == 0 and res["requires"] == ["cdc_timestamp_column",
                                           "cdc_id_column"]
    rc, res = _run(capsys, ["info", "--strategy", "nope"])
    assert rc == 2


def test_cdc_validate_verb(capsys, sf_dir):
    """cdc validate binds the strategy to the REAL source table: good
    config reports pushdown + test-watermark match count; a typo'd
    column fails with the available names listed (reference
    v1_2_0_commands.py cdc validate, strengthened with schema+plan
    checks the reference never ran)."""
    rc, res = _run(capsys, ["cdc", "validate", "-t", "orders",
                            "--strategy", "hybrid",
                            "--ts-column", "o_orderdate",
                            "--id-column", "o_orderkey",
                            "--source-dir", sf_dir, "--cpus", "8"])
    assert rc == 0 and res["valid"]
    assert res["predicate_pushed_to_scan"] is True
    assert res["rows_matching_test_watermark"] > 0
    assert res["column_types"]["o_orderkey"].startswith("bigint")

    rc, res = _run(capsys, ["cdc", "validate", "-t", "orders",
                            "--strategy", "hybrid",
                            "--ts-column", "o_orderdate",
                            "--id-column", "no_such_col",
                            "--source-dir", sf_dir, "--cpus", "8"])
    assert rc == 1 and not res["valid"]
    assert "no_such_col" in res["error"] and "o_orderkey" in res["available"]

    # dry-run skips execution but still validates + checks pushdown
    rc, res = _run(capsys, ["cdc", "validate", "-t", "events",
                            "--strategy", "timestamp_only",
                            "--ts-column", "ts",
                            "--source-dir", sf_dir,
                            "--dry-run", "--cpus", "8"])
    assert rc == 0 and res["valid"]
    assert "rows_matching_test_watermark" not in res

    rc, res = _run(capsys, ["cdc", "strategies"])
    assert rc == 0 and "hybrid" in res["strategies"]


def test_cdc_examples_and_migrate_verbs(capsys, tmp_path):
    """cdc examples emits one worked config per strategy; cdc migrate
    adds explicit timestamp_only CDC to tables relying on the implicit
    updated_at default (reference cdc_configuration_manager.py:262) and
    the migrated file loads through the normal pipeline loader."""
    out_yaml = str(tmp_path / "examples.yml")
    rc, res = _run(capsys, ["cdc", "examples", "-o", out_yaml])
    assert rc == 0 and set(res) == {"timestamp_only", "hybrid", "id_only",
                                    "full_sync", "custom_sql"}
    import yaml
    assert yaml.safe_load(open(out_yaml))["hybrid"]["config"][
        "cdc_id_column"] == "id"

    legacy = tmp_path / "legacy.yml"
    legacy.write_text("""
pipeline: {name: legacy, source: s, target: t}
tables:
  orders: {cdc_strategy: hybrid, cdc_timestamp_column: o_orderdate,
           cdc_id_column: o_orderkey}
  lineitem: {}
""")
    migrated = str(tmp_path / "migrated.yml")
    rc, res = _run(capsys, ["cdc", "migrate", "-p", str(legacy),
                            "--output", migrated])
    assert rc == 0 and res["migrated_to_explicit_cdc"] == ["lineitem"]
    cfg = yaml.safe_load(open(migrated))
    assert cfg["pipeline"]["version"] == "1.2.0"
    assert cfg["tables"]["lineitem"]["cdc_strategy"] == "timestamp_only"
    assert cfg["tables"]["orders"]["cdc_strategy"] == "hybrid"  # untouched
    from s3_redshift_backup_tool_spark.plans.pipeline import (
        load_pipeline_yaml,
    )
    pipe = load_pipeline_yaml(migrated)
    assert {t.table_name for t in pipe.tables} == {"orders", "lineitem"}

    rc, res = _run(capsys, ["cdc", "migrate", "-p",
                            str(tmp_path / "nope.yml"),
                            "--output", migrated])
    assert rc == 1 and "not found" in res["error"]


def test_dedup_index_verbs(capsys, tmp_path, sf_dir):
    idx = str(tmp_path / "lsh_idx")
    rc, out = _run(capsys, ["dedup-index", "build", "--index-dir", idx,
                            "--source-dir", sf_dir, "-t", "documents",
                            "--cpus", "8"])
    assert rc == 0 and out["docs"] > 0

    rc2, st = _run(capsys, ["dedup-index", "stats", "--index-dir", idx,
                            "--cpus", "8"])
    assert rc2 == 0 and st["rows"] == out["docs"] * 8   # bands per doc
    assert st["approx_docs"] > 0 and st["max_bucket_size"] >= 1

    # probing the corpus against its own index: every doc self-filters,
    # so pairs == the corpus's internal near-dup pairs
    rc3, pr = _run(capsys, ["dedup-index", "probe", "--index-dir", idx,
                            "--source-dir", sf_dir, "-t", "documents",
                            "--cpus", "8"])
    assert rc3 == 0 and pr["pairs"] >= 0 and "sample" in pr

    out_pq = str(tmp_path / "pairs")
    rc4, pw = _run(capsys, ["dedup-index", "probe", "--index-dir", idx,
                            "--source-dir", sf_dir, "-t", "documents",
                            "-o", out_pq, "--cpus", "8"])
    assert rc4 == 0 and pw["pairs"] == pr["pairs"]


def test_matview_verbs(capsys, tmp_path, sf_dir):
    st = str(tmp_path / "mv_state")
    rc, out = _run(capsys, ["matview", "refresh", "--state-dir", st,
                            "--source-dir", sf_dir, "-t", "orders",
                            "--keys", "o_orderstatus",
                            "--value-col", "o_totalprice", "--cpus", "8"])
    assert rc == 0 and out["batch_rows"] > 0

    rc2, rd = _run(capsys, ["matview", "read", "--state-dir", st,
                            "--keys", "o_orderstatus",
                            "--value-col", "o_totalprice", "--cpus", "8"])
    assert rc2 == 0 and rd["groups"] == 3  # P / O / F
    total = sum(r["n_rows"] for r in rd["rows"])
    assert total == out["batch_rows"]

    rc3, rt = _run(capsys, ["matview", "retract", "--state-dir", st,
                            "--source-dir", sf_dir, "-t", "orders",
                            "--keys", "o_orderstatus",
                            "--value-col", "o_totalprice",
                            "--where", "o_orderkey % 2 = 0",
                            "--cpus", "8"])
    assert rc3 == 0
    rc4, rd2 = _run(capsys, ["matview", "read", "--state-dir", st,
                             "--keys", "o_orderstatus",
                             "--value-col", "o_totalprice", "--cpus", "8"])
    assert rc4 == 0
    assert sum(r["n_rows"] for r in rd2["rows"]) == total - rt["batch_rows"]


def test_report_verb(capsys, sf_dir):
    rc, out = _run(capsys, ["report", "--source-dir", sf_dir,
                            "-t", "documents", "--cpus", "8"])
    assert rc == 0
    assert out["n_docs"] > 0 and "quality_quartiles" in out
    assert sum(s["docs"] for s in out["volume"]) == out["n_docs"]
