"""Command-line interface mirroring the reference's operational surface.

Reference verbs (SURVEY §3): ``sync pipeline -p <yml> [-t table]``
(src/cli/multi_schema_commands.py:70-110), ``watermark get|set|reset``
(src/cli/main.py:1505-1958), ``watermark count``
(:1959-2204), ``s3clean`` (:2205-2412). Same verbs here, with parquet
directories standing in for MySQL/S3/Redshift endpoints:

    python -m s3_redshift_backup_tool_spark sync -p pipeline.yml \
        --source-dir /data/sf0.01 --work-dir /tmp/work [-t orders] [--parallel]
    python -m s3_redshift_backup_tool_spark watermark get -t orders --work-dir ...
    python -m s3_redshift_backup_tool_spark watermark set -t orders --id 500 \
        --timestamp "1998-01-01 00:00:00" --work-dir ...
    python -m s3_redshift_backup_tool_spark watermark reset -t orders \
        [--preserve-files] --work-dir ...
    python -m s3_redshift_backup_tool_spark s3clean --work-dir ... \
        [--older-than-days 7] [--confirm]

All output is JSON on stdout (the reference emits JSON for Airflow
markers; src/cli/airflow_enhancements.py).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
from typing import Any


def _store(work_dir: str):
    from .state import LocalJsonBackend, WatermarkStore
    return WatermarkStore(LocalJsonBackend(os.path.join(work_dir, "state")))


def _emit(obj: Any) -> None:
    json.dump(obj, sys.stdout, indent=2, default=str)
    sys.stdout.write("\n")


def _nonneg_int(v: str) -> int:
    """argparse type for caps where 0 means 'uncapped': a NEGATIVE cap
    would pass `or None` checks as truthy and filter out every bucket,
    silently building an empty index — reject it at the parser."""
    n = int(v)
    if n < 0:
        raise argparse.ArgumentTypeError(
            f"must be >= 0 (0 = uncapped), got {n}")
    return n


def cmd_sync(args: argparse.Namespace) -> int:
    from .plans.pipeline import (TableConfig, adhoc_pipeline,
                                 load_pipeline_yaml)
    from .plans.sync import sync_pipeline
    from .session import get_spark
    from .sources.readers import read_table

    if args.pipeline:
        pipeline = load_pipeline_yaml(args.pipeline)
        if args.table:
            keep = set(args.table)
            pipeline.tables = [t for t in pipeline.tables
                               if t.table_name in keep]
            if not pipeline.tables:
                _emit({"error": f"no configured table matches {sorted(keep)}"})
                return 2
    else:
        # ad-hoc mode (reference `sync connections`,
        # multi_schema_commands.py:248-319): no YAML — one table synced
        # with flag-supplied CDC settings, default hybrid strategy
        if not args.table or len(args.table) != 1:
            _emit({"error": "ad-hoc sync (no -p) requires exactly one -t"})
            return 2
        tc = TableConfig(table_name=args.table[0],
                         cdc_strategy=args.strategy,
                         cdc_timestamp_column=args.ts_column,
                         cdc_id_column=args.id_column)
        pipeline = adhoc_pipeline(args.source, args.target, tc)
    # Persisted rename maps are picked up BY TABLE NAME (reference: the
    # dynamic column mapper loads column_mappings/<table>.json at sync
    # time, src/core/column_mapper.py:45-112); an inline column_map in
    # the pipeline YAML wins over the persisted file.
    from .operators.column_mapper import ColumnMapper
    mapper = ColumnMapper(args.work_dir)
    for t in pipeline.tables:
        if not t.column_map:
            persisted = mapper.get_mapping(t.table_name)
            if persisted:
                t.column_map = persisted
    spark = get_spark("cli_sync", cpus=args.cpus)
    store = _store(args.work_dir)
    results = sync_pipeline(
        spark, pipeline, store,
        lambda name: read_table(spark, args.source_dir, name),
        args.work_dir, parallel=args.parallel)
    out = {}
    for name, r in results.items():
        d = dataclasses.asdict(r)
        d["new_watermark"] = dataclasses.asdict(r.new_watermark)
        d.pop("quality", None)
        out[name] = d
    _emit(out)
    return 0 if all(r.verified for r in results.values()) else 1


def cmd_watermark(args: argparse.Namespace) -> int:
    store = _store(args.work_dir)
    key = (args.source, args.table, args.target)
    if args.action == "get":
        _emit(store.get(*key))
    elif args.action == "set":
        if args.id is None and args.timestamp is None:
            _emit({"error": "set requires --id and/or --timestamp"})
            return 2
        _emit(store.set_manual(*key, last_timestamp=args.timestamp,
                               last_id=args.id))
    elif args.action == "reset":
        doc = store.reset(*key)
        if not args.preserve_files:
            # a full fresh-sync reset also clears the parquet manifest so
            # re-staged files load again (preserve keeps it, matching the
            # reference's preserve_files blacklist semantics)
            import shutil

            from .operators.manifest import manifest_path
            shutil.rmtree(manifest_path(os.path.join(
                args.work_dir, "staging", args.table)), ignore_errors=True)
        _emit(doc)
    elif args.action == "count":
        # the loader advances files_loaded_total by the files each manifest
        # record adds, so the count needs neither Spark nor a manifest scan
        doc = store.get(*key)
        _emit({"table": args.table,
               "mysql_total_rows": doc["mysql_state"]["total_rows"],
               "redshift_total_rows": doc["redshift_state"]["total_rows"],
               "processed_files": int(doc["redshift_state"]
                                      .get("files_loaded_total") or 0)})
    elif args.action == "summary":
        _emit(store.get_summary(*key))
    return 0


def cmd_s3clean(args: argparse.Namespace) -> int:
    import glob as _glob

    from .operators.manifest import local_loaded_paths
    from .plans.cleanup import clean_staging
    # loaded paths live in each table's parquet manifest under staging
    loaded: set[str] = set()
    staging_root = os.path.join(args.work_dir, "staging")
    for table_staging in _glob.glob(os.path.join(staging_root, "*")):
        loaded |= local_loaded_paths(table_staging)
    rep = clean_staging(
        staging_root, loaded,
        older_than_seconds=(args.older_than_days * 86400
                            if args.older_than_days is not None else None),
        confirm=args.confirm)
    d = dataclasses.asdict(rep)
    d["files"] = d["files"][:20] + (["..."] if len(d["files"]) > 20 else [])
    _emit(d)
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    from .plans.compact import compact_target
    from .session import get_spark
    spark = get_spark("cli_compact", cpus=args.cpus)
    target_path = os.path.join(args.work_dir, "target", args.table)
    res = compact_target(spark, target_path, key_cols=args.key,
                         ts_col=args.ts_column)
    _emit(dataclasses.asdict(res))
    return 0


def cmd_optimize(args: argparse.Namespace) -> int:
    from .plans.compact import optimize_target_layout
    from .session import get_spark
    spark = get_spark("cli_optimize", cpus=args.cpus)
    target_path = os.path.join(args.work_dir, "target", args.table)
    res = optimize_target_layout(spark, target_path,
                                 zorder_cols=args.zorder,
                                 n_files=args.n_files)
    _emit(dataclasses.asdict(res))
    return 0


def cmd_config(args: argparse.Namespace) -> int:
    """Dump the EFFECTIVE pipeline configuration (reference `config`,
    src/cli/main.py:1441-1504): the YAML parsed through the same
    loader the sync uses, with per-table defaults resolved — what the
    job will actually run, not what the file literally says."""
    from .plans.pipeline import load_pipeline_yaml
    pipe = load_pipeline_yaml(args.pipeline)
    _emit({"pipeline": {"name": pipe.name, "source": pipe.source,
                        "target": pipe.target},
           "tables": [dataclasses.asdict(t) for t in pipe.tables]})
    return 0


def cmd_status(args: argparse.Namespace) -> int:
    """Pipeline status dashboard (reference `status`,
    src/cli/main.py:1116-1262): one row per synced table from the
    watermark store — cumulative source/target rows, state machine
    status, last extracted (ts, id) — straight off the JSON documents
    (no Spark session; status must work when the cluster doesn't)."""
    import glob as _glob
    import json as _json
    state_root = os.path.join(args.work_dir, "state", "watermarks", "v2")
    tables = []
    for fn in sorted(_glob.glob(os.path.join(state_root, "*.json"))):
        with open(fn) as fh:
            doc = _json.load(fh)
        ms, rs = doc.get("mysql_state", {}), doc.get("redshift_state", {})
        tables.append({
            "key": os.path.basename(fn)[:-5],
            "source_rows_total": ms.get("total_rows"),
            "target_rows_total": rs.get("total_rows"),
            "status": ms.get("status"),
            "target_status": rs.get("status"),
            "last_timestamp": ms.get("last_timestamp"),
            "last_id": ms.get("last_id"),
            "in_sync": ms.get("total_rows") == rs.get("total_rows"),
        })
    _emit({"work_dir": args.work_dir, "tables": tables,
           "all_in_sync": bool(tables)
           and all(t["in_sync"] for t in tables)})
    return 0 if tables and all(t["in_sync"] for t in tables) else         (0 if not args.strict else 1)


def cmd_history(args: argparse.Namespace) -> int:
    from .plans.sync import read_run_log
    from .session import get_spark
    spark = get_spark("cli_history", cpus=args.cpus)
    log = read_run_log(spark, args.work_dir).orderBy("run_at")
    if args.table:
        from pyspark.sql import functions as F
        log = log.filter(F.col("table") == args.table)
    rows = [r.asDict() for r in log.tail(args.last)]
    for r in rows:
        r["run_at"] = str(r["run_at"])
    _emit({"runs": rows})
    return 0


def cmd_warehouse(args: argparse.Namespace) -> int:
    """Load a parquet target into a JDBC warehouse table and verify the
    row count — the operational face of sources/writers.py (production:
    swap for the Redshift COPY connector; flags unchanged)."""
    from .session import get_spark
    from .sources.writers import (jdbc_count, load_jdbc_append,
                                  load_jdbc_replace, load_jdbc_upsert)
    spark = get_spark("cli_warehouse", cpus=args.cpus)
    df = spark.read.parquet(args.target_path)
    n = df.count()
    if args.mode == "append":
        load_jdbc_append(df, args.url, args.table,
                         num_partitions=args.connections)
    elif args.mode == "replace":
        load_jdbc_replace(df, args.url, args.table)
    else:
        if not args.keys:
            print("upsert requires --keys", file=sys.stderr)
            return 2
        load_jdbc_upsert(spark, df, args.url, args.table,
                         args.keys.split(","))
    wh = jdbc_count(spark, args.url, args.table)
    verified = wh >= n if args.mode == "append" else \
        (wh == n if args.mode == "replace" else wh >= n)
    _emit({"rows_read": n, "warehouse_rows": wh, "mode": args.mode,
           "verified": verified})
    return 0 if verified else 1


def cmd_table(args: argparse.Namespace) -> int:
    """Versioned-table lifecycle: versions / rollback / vacuum / merge."""
    from .plans.versioned import VersionedTable
    from .session import get_spark
    spark = get_spark("cli_table", cpus=args.cpus)
    t = VersionedTable(spark, args.path)
    if args.action == "merge":
        if not args.delta or not args.keys:
            print("merge requires --delta and --keys", file=sys.stderr)
            return 2
        delta = spark.read.parquet(args.delta)
        v = t.merge(delta, keys=args.keys.split(","), note=args.note)
        man = t._read_manifest(v)
        _emit({"version": v,
               "rewritten_files": len(man.get("rewritten_files", [])),
               "total_files": len(man.get("files", []))})
        return 0
    if args.action == "compact":
        res = t.compact(target_file_bytes=args.target_mb << 20)
        _emit(res)
        return 0
    if args.action == "changes":
        if args.from_version is None or args.version is None or \
                not args.keys:
            print("changes requires --from-version, --version (to) "
                  "and --keys", file=sys.stderr)
            return 2
        feed = t.changes(args.from_version, args.version,
                         keys=args.keys.split(","))
        if args.out:
            feed.write.mode("overwrite").parquet(args.out)
        counts = {r["_change"]: r["n"] for r in
                  feed.groupBy("_change").count()
                      .withColumnRenamed("count", "n").collect()}
        _emit({"from": args.from_version, "to": args.version,
               "changes": counts, "out": args.out})
        return 0
    if args.action == "versions":
        _emit({"versions": t.versions(), "current": t.current_version()})
    elif args.action == "rollback":
        if args.version is None:
            print("rollback requires --version", file=sys.stderr)
            return 2
        t.rollback(args.version)
        _emit({"current": t.current_version()})
    else:  # vacuum
        deleted = t.vacuum(keep_last=args.keep_last)
        _emit({"deleted_files": len(deleted),
               "versions": t.versions()})
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """One-pass column profile of a parquet table: row count plus
    per-column null count, approx distinct, and (for orderable atomic
    types) min/max — the operational half of the reference's schema
    discovery + density statistics (SURVEY §2 S11/A3), as one
    aggregate job whose shuffle carries a handful of states per
    column, never rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .session import get_spark
    from .sources.readers import read_table
    spark = get_spark("cli_profile", cpus=args.cpus)
    df = read_table(spark, args.source_dir, args.table)
    atomic = (T.NumericType, T.StringType, T.TimestampType, T.DateType,
              T.BooleanType)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for f in df.schema.fields:
        c = f.name
        aggs.append(F.count(F.when(F.col(c).isNull(), 1))
                     .alias(f"{c} nulls"))
        aggs.append(F.approx_count_distinct(c)
                     .alias(f"{c} distinct"))
        if isinstance(f.dataType, atomic):
            aggs.append(F.min(c).cast("string").alias(f"{c} min"))
            aggs.append(F.max(c).cast("string").alias(f"{c} max"))
    row = df.agg(*aggs).first().asDict()
    cols = {}
    for f in df.schema.fields:
        c = f.name
        cols[c] = {"type": f.dataType.simpleString(),
                   "nulls": int(row[f"{c} nulls"]),
                   "approx_distinct": int(row[f"{c} distinct"])}
        if f"{c} min" in row:
            cols[c]["min"] = row[f"{c} min"]
            cols[c]["max"] = row[f"{c} max"]
    _emit({"table": args.table, "rows": int(row["__rows"]),
           "columns": cols})
    return 0


def cmd_markers(args: argparse.Namespace) -> int:
    from .plans.markers import CompletionMarkers
    markers = CompletionMarkers(os.path.join(args.work_dir,
                                             "_completion_markers"))
    if args.action == "check":
        if not args.table:
            _emit({"error": "markers check requires -t"})
            return 2
        # the Airflow-sensor contract: exit 0 iff the marker exists
        ok = markers.check(args.table, status=args.status,
                           date_str=args.date, kind=args.kind)
        _emit({"marker": f"{args.kind}_{args.table}_{args.status.upper()}",
               "date": args.date or "today", "exists": ok,
               "detail": markers.read(args.table, status=args.status,
                                      date_str=args.date, kind=args.kind)})
        return 0 if ok else 1
    _emit({"markers": markers.list_markers(args.date)})
    return 0


def cmd_column_mapping(args: argparse.Namespace) -> int:
    """Persisted per-table rename maps (reference
    src/cli/column_mapping_commands.py: list/show/clear/clear-all;
    src/core/column_mapper.py:45-112 persistence). ``set`` replaces the
    reference's dynamic-capture path with explicit pairs; ``sync``
    picks maps up by table name from the same work dir."""
    from .operators.column_mapper import ColumnMapper
    mapper = ColumnMapper(args.work_dir)
    if args.action == "list":
        root = mapper.root
        tables = sorted(f[:-5] for f in os.listdir(root)
                        if f.endswith(".json")) if os.path.isdir(root) else []
        _emit({"tables": tables, "root": root})
        return 0
    if args.action == "clear-all":
        root = mapper.root
        n = 0
        if os.path.isdir(root):
            for f in list(os.listdir(root)):
                if f.endswith(".json"):
                    os.remove(os.path.join(root, f))
                    n += 1
        _emit({"cleared": n})
        return 0
    if not args.table:
        _emit({"error": f"column-mapping {args.action} requires -t"})
        return 2
    if args.action == "show":
        m = mapper.get_mapping(args.table)
        _emit({"table": args.table, "mapping": m, "n_columns": len(m)})
        return 0 if m else 1
    if args.action == "clear":
        existed = bool(mapper.get_mapping(args.table))
        mapper.delete_mapping(args.table)
        _emit({"table": args.table, "cleared": existed})
        return 0
    # set
    mapping: dict[str, str] = {}
    if args.json:
        src = args.json
        if src.startswith("@"):
            with open(src[1:]) as fh:
                mapping.update(json.load(fh))
        else:
            mapping.update(json.loads(src))
    for pair in args.pair or []:
        if "=" not in pair:
            _emit({"error": f"--pair must be src=dst, got {pair!r}"})
            return 2
        s, d = pair.split("=", 1)
        mapping[s] = d
    if not mapping:
        _emit({"error": "column-mapping set requires --pair and/or --json"})
        return 2
    try:
        mapper.set_mapping(args.table, mapping)
    except ValueError as e:
        _emit({"error": str(e)})
        return 2
    _emit({"table": args.table, "mapping": mapping,
           "path": mapper._path(args.table)})
    return 0


def cmd_cdc(args: argparse.Namespace) -> int:
    """CDC config validation (reference src/cli/v1_2_0_commands.py:37
    ``cdc validate`` / :90 ``cdc strategies`` / :257 ``test-strategy``).
    The reference prints a sample SQL string; here validation goes
    further — the strategy is bound to the REAL source table, the
    predicate is built, and the physical plan is checked for pushdown,
    so a typo'd column or an unpushable cast fails HERE, not mid-sync."""
    if args.action == "strategies":
        ns = argparse.Namespace(strategy=None)
        return cmd_info(ns)
    if args.action == "examples":
        # reference v1_2_0_commands.py:216 `cdc examples`: one worked
        # example per strategy, ready to paste into a pipeline YAML
        examples = {
            "timestamp_only": {
                "description": "single monotonic timestamp column",
                "config": {"cdc_strategy": "timestamp_only",
                           "cdc_timestamp_column": "updated_at"}},
            "hybrid": {
                "description": "timestamp + id keyset (tie-safe default)",
                "config": {"cdc_strategy": "hybrid",
                           "cdc_timestamp_column": "updated_at",
                           "cdc_id_column": "id"}},
            "id_only": {
                "description": "append-only auto-increment tables",
                "config": {"cdc_strategy": "id_only",
                           "cdc_id_column": "id"}},
            "full_sync": {
                "description": "small tables, complete refresh",
                "config": {"cdc_strategy": "full_sync",
                           "full_sync_mode": "replace"}},
            "custom_sql": {
                "description": "user SELECT (validated against a "
                               "keyword blocklist)",
                "config": {"cdc_strategy": "custom_sql",
                           "custom_sql": "SELECT * FROM t WHERE ..."}},
        }
        if args.output:
            import yaml
            with open(args.output, "w") as fh:
                yaml.safe_dump(examples, fh, sort_keys=True)
        _emit(examples)
        return 0
    if args.action == "migrate":
        # reference cdc_configuration_manager.py:262: add explicit CDC
        # config to tables that relied on the implicit updated_at default
        import yaml
        if not args.pipeline or not args.output:
            _emit({"error": "cdc migrate requires -p <in.yml> and "
                            "--output <out.yml>"})
            return 2
        try:
            with open(args.pipeline) as fh:
                cfg = yaml.safe_load(fh) or {}
        except FileNotFoundError:
            _emit({"error": f"input file not found: {args.pipeline}"})
            return 1
        if "pipeline" in cfg:
            cfg["pipeline"]["version"] = "1.2.0"
        migrated = []
        cdc_keys = ("cdc_strategy", "cdc_timestamp_column",
                    "cdc_id_column", "custom_sql")
        for name, tc in (cfg.get("tables") or {}).items():
            if tc is None:
                tc = {}
                cfg["tables"][name] = tc
            # migrate ONLY tables with no CDC config at all: a table
            # carrying e.g. cdc_timestamp_column/cdc_id_column already
            # works via the loader's hybrid default — clobbering its
            # column or strategy would change sync semantics
            if not any(k in tc for k in cdc_keys):
                tc["cdc_strategy"] = "timestamp_only"
                tc.setdefault("cdc_timestamp_column", "updated_at")
                migrated.append(name)
        with open(args.output, "w") as fh:
            yaml.safe_dump(cfg, fh, sort_keys=False)
        _emit({"output": args.output,
               "tables": sorted(cfg.get("tables") or {}),
               "migrated_to_explicit_cdc": migrated})
        return 0
    # validate
    if not args.table:
        _emit({"error": "cdc validate requires -t"})
        return 2
    if not args.source_dir:
        _emit({"error": "cdc validate requires --source-dir"})
        return 2
    from .operators.cdc import CDCConfig, Watermark, apply_cdc
    from .session import get_spark
    from .sources.readers import read_table

    cfg_kw = {}
    if args.pipeline:
        from .plans.pipeline import load_pipeline_yaml
        pipe = load_pipeline_yaml(args.pipeline)
        for t in pipe.tables:
            if t.table_name == args.table:
                cfg_kw = {"strategy": t.cdc_strategy,
                          "timestamp_column": t.cdc_timestamp_column,
                          "id_column": t.cdc_id_column,
                          "custom_sql": t.custom_sql}
                break
        else:
            _emit({"error": f"table {args.table!r} not in pipeline"})
            return 2
    if args.strategy:
        cfg_kw["strategy"] = args.strategy
    if args.ts_column:
        cfg_kw["timestamp_column"] = args.ts_column
    if args.id_column:
        cfg_kw["id_column"] = args.id_column
    try:
        cfg = CDCConfig(**{k: v for k, v in cfg_kw.items() if v})
    except ValueError as e:
        _emit({"table": args.table, "valid": False, "error": str(e)})
        return 1
    spark = get_spark("cli_cdc", cpus=args.cpus)
    src = read_table(spark, args.source_dir, args.table)
    cols = {f.name: f.dataType.simpleString() for f in src.schema.fields}
    missing = [c for c in (cfg.timestamp_column, cfg.id_column)
               if c and c not in cols]
    if missing:
        _emit({"table": args.table, "valid": False,
               "error": f"column(s) not in source schema: {missing}",
               "available": sorted(cols)})
        return 1
    # epoch watermark: matches (nearly) everything, so the count is a
    # meaningful sanity signal for any fixture era
    wm = Watermark(last_timestamp="1970-01-01 00:00:00"
                   if cfg.timestamp_column else None,
                   last_id=0 if cfg.id_column else None)
    try:
        delta = apply_cdc(src, cfg, wm)
    except Exception as e:
        _emit({"table": args.table, "valid": False, "error": str(e)})
        return 1
    import re
    jvm = spark._jvm
    plan = delta._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    pushed = bool(re.search(r"PushedFilters: \[(?!\])", plan))
    out = {"table": args.table, "valid": True,
           "strategy": cfg.strategy,
           "timestamp_column": cfg.timestamp_column,
           "id_column": cfg.id_column,
           "column_types": {c: cols[c] for c in
                            (cfg.timestamp_column, cfg.id_column) if c},
           # full_sync/custom_sql have no watermark predicate to push
           "predicate_pushed_to_scan": bool(pushed)
           if cfg.strategy in ("timestamp_only", "hybrid", "id_only")
           else None}
    if not args.dry_run:
        out["rows_matching_test_watermark"] = delta.count()
        out["test_watermark"] = {"last_timestamp": wm.last_timestamp,
                                 "last_id": wm.last_id}
    _emit(out)
    return 0


def cmd_dedup_index(args: argparse.Namespace) -> int:
    """Persisted LSH dedup-index lifecycle (operators/dedup.py
    save_lsh_index family): ``build`` from a corpus table, ``add`` a
    synced batch's signatures, ``probe`` a batch for near-dups against
    everything indexed (without rescanning corpus text), ``stats`` for
    operational visibility — the dedup twin of the watermark verbs'
    incremental contract."""
    from pyspark.sql import functions as F

    from .operators import dedup as dd
    from .session import get_spark
    from .sources.readers import read_table

    spark = get_spark("cli_dedup_index", cpus=args.cpus)
    kw = dict(text_col=args.text_col, id_col=args.id_col, n=args.ngram,
              num_hashes=args.num_hashes, bands=args.bands)
    if args.action == "stats":
        idx = spark.read.parquet(args.index_dir)
        row = idx.agg(
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct(args.id_col).alias("approx_docs"),
            F.approx_count_distinct("band_hash").alias("approx_buckets"),
        ).first()
        widest = (idx.groupBy("band", "band_hash").count()
                     .agg(F.max("count")).first()[0])
        _emit({"index_dir": args.index_dir, "rows": int(row["rows"]),
               "approx_docs": int(row["approx_docs"]),
               "approx_buckets": int(row["approx_buckets"]),
               "max_bucket_size": int(widest) if widest is not None else 0})
        return 0
    df = read_table(spark, args.source_dir, args.table)
    # --max-bucket-size 0 is the explicit uncapped opt-in; the default
    # (64) keeps the CLI on the capped 100 TB-safe path for BOTH the
    # build and the probe (probe caps combined index+batch bucket
    # width — index buckets regrow past the build cap via `add`).
    cap = args.max_bucket_size or None
    if args.action == "build":
        dd.save_lsh_index(df, args.index_dir, max_bucket_size=cap, **kw)
        _emit({"action": "build", "index_dir": args.index_dir,
               "docs": df.count()})
        return 0
    if args.action == "add":
        dd.lsh_index_add(spark, df, args.index_dir, **kw)
        _emit({"action": "add", "index_dir": args.index_dir,
               "docs": df.count()})
        return 0
    pairs = dd.lsh_index_pairs(spark, df, args.index_dir,
                               max_bucket_size=cap, **kw)
    if args.output:
        pairs.write.mode("overwrite").parquet(args.output)
        _emit({"action": "probe", "pairs": spark.read.parquet(
            args.output).count(), "output": args.output})
    else:
        sample = [[r["id_a"], r["id_b"]] for r in pairs.limit(20).collect()]
        _emit({"action": "probe", "pairs": pairs.count(),
               "sample": sample})
    return 0


def cmd_report(args: argparse.Namespace) -> int:
    """Dataset-card summary (plans/report.py corpus_report) for a
    documents-shaped table: per-source volume/tokens, languages,
    quality quartiles, dup rates + KMV distinct estimates, length
    percentiles — one JSON object on stdout."""
    from .plans.report import corpus_report
    from .session import get_spark
    from .sources.readers import read_table

    spark = get_spark("cli_report", cpus=args.cpus)
    docs = read_table(spark, args.source_dir, args.table)
    _emit(corpus_report(docs, text_col=args.text_col, id_col=args.id_col,
                        source_col=args.source_col))
    return 0


def cmd_matview(args: argparse.Namespace) -> int:
    """Maintained grouped aggregate (plans/rollup.py IncrementalRollup on
    the agg-state monoid): ``refresh`` ⊕-folds a batch in, ``retract``
    ⊖-subtracts a delete batch, ``read`` finalizes the state
    (count/sum/min/max/avg/stddev per group). The CLI face of
    incremental materialized-view maintenance — aggregate deltas, never
    rescan the fact table."""
    from .plans.rollup import IncrementalRollup
    from .session import get_spark
    from .sources.readers import read_table

    spark = get_spark("cli_matview", cpus=args.cpus)
    ru = IncrementalRollup(spark, args.state_dir,
                           keys=args.keys.split(","),
                           value_col=args.value_col)
    if args.action == "read":
        rows = ru.read().collect()
        _emit({"state_dir": args.state_dir, "groups": len(rows),
               "rows": [r.asDict() for r in rows[:50]]})
        return 0
    df = read_table(spark, args.source_dir, args.table)
    if args.where:
        df = df.where(args.where)
    if args.action == "refresh":
        ru.apply(df)
    else:
        ru.apply_deletes(df)
    _emit({"action": args.action, "state_dir": args.state_dir,
           "batch_rows": df.count()})
    return 0


def cmd_info(args: argparse.Namespace) -> int:
    """Operator-facing capability listing (reference
    src/cli/main.py:1267 ``info``): CDC strategies with their config
    keys, pipeline execution modes, and the registry query families."""
    from .parity import REGISTRY
    from . import parity_ext  # noqa: F401  (extends REGISTRY)
    strategies = {
        "timestamp_only": {"requires": ["cdc_timestamp_column"],
                           "notes": "ts > watermark; UNIX-int epoch "
                                    "columns auto-detected"},
        "hybrid": {"requires": ["cdc_timestamp_column", "cdc_id_column"],
                   "notes": "(ts, id) keyset pagination — the tie-safe "
                            "default"},
        "id_only": {"requires": ["cdc_id_column"],
                    "notes": "id > watermark, bounded by a MAX(id) "
                             "ceiling probe"},
        "full_sync": {"requires": [],
                      "notes": "replace | append via full_sync_mode"},
        "custom_sql": {"requires": ["custom_sql"],
                       "notes": "user SELECT with keyword-blocklist "
                                "validation"},
    }
    table_config_keys = [
        "cdc_strategy", "cdc_timestamp_column", "cdc_id_column",
        "cdc_ordering", "timestamp_format", "full_sync_mode",
        "custom_sql", "additional_where", "column_map", "columns",
        "depends_on"]
    if args.strategy:
        if args.strategy not in strategies:
            _emit({"error": f"unknown strategy {args.strategy!r}",
                   "available": sorted(strategies)})
            return 2
        _emit({"strategy": args.strategy, **strategies[args.strategy]})
        return 0
    families: dict[str, int] = {}
    for name in REGISTRY:
        fam = name.split("_")[0]
        families[fam] = families.get(fam, 0) + 1
    _emit({"strategies": strategies,
           "table_config_keys": table_config_keys,
           "execution_modes": ["sequential", "parallel (thread pool + "
                               "depends_on topological order)"],
           "registry_queries": len(REGISTRY),
           "query_family_prefixes": dict(sorted(families.items()))})
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="s3_redshift_backup_tool_spark")
    sub = p.add_subparsers(dest="command", required=True)

    # `backup` is the reference's name for the same verb
    # (src/cli/main.py:512 ad-hoc backup): alias, not a separate path
    sp = sub.add_parser("sync", aliases=["backup"],
                        help="run a pipeline's incremental sync "
                             "(or, without -p, an ad-hoc one-table "
                             "sync from flags); alias: backup")
    sp.add_argument("-p", "--pipeline", default=None, help="pipeline YAML; "
                    "omit for ad-hoc mode")
    sp.add_argument("-t", "--table", action="append",
                    help="restrict to table(s); repeatable (exactly one "
                         "in ad-hoc mode)")
    sp.add_argument("--strategy", default="hybrid",
                    help="ad-hoc mode CDC strategy")
    sp.add_argument("--ts-column", default=None,
                    help="ad-hoc mode cdc_timestamp_column")
    sp.add_argument("--id-column", default=None,
                    help="ad-hoc mode cdc_id_column")
    sp.add_argument("--source", default="src",
                    help="ad-hoc mode source scope name")
    sp.add_argument("--target", default="tgt",
                    help="ad-hoc mode target scope name")
    sp.add_argument("--source-dir", required=True,
                    help="directory of <table>.parquet source files")
    sp.add_argument("--work-dir", required=True,
                    help="state + staging + target root")
    sp.add_argument("--parallel", action="store_true")
    sp.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    sp.set_defaults(fn=cmd_sync)

    wp = sub.add_parser("watermark", help="inspect or mutate sync state")
    wp.add_argument("action", choices=["get", "set", "reset", "count",
                                       "summary"])
    wp.add_argument("-t", "--table", required=True)
    wp.add_argument("--source", default="src")
    wp.add_argument("--target", default="tgt")
    wp.add_argument("--work-dir", required=True)
    wp.add_argument("--id", type=int, default=None,
                    help="manual last_id override")
    wp.add_argument("--timestamp", default=None,
                    help="manual last_timestamp override")
    wp.add_argument("--preserve-files", action="store_true",
                    help="reset: keep the table's loaded-file manifest")
    wp.set_defaults(fn=cmd_watermark)

    cp = sub.add_parser("s3clean", help="reclaim staged files (dry-run "
                                        "unless --confirm)")
    cp.add_argument("--work-dir", required=True)
    cp.add_argument("--older-than-days", type=float, default=None)
    cp.add_argument("--confirm", action="store_true")
    cp.set_defaults(fn=cmd_s3clean)

    kp = sub.add_parser("compact", help="collapse an append-only target "
                                        "to latest-record-per-key")
    kp.add_argument("-t", "--table", required=True,
                    help="target table name under <work-dir>/target/")
    kp.add_argument("--key", action="append", required=True,
                    help="key column; repeatable for composite keys")
    kp.add_argument("--ts-column", required=True)
    kp.add_argument("--work-dir", required=True)
    kp.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    kp.set_defaults(fn=cmd_compact)

    op = sub.add_parser("optimize", help="rewrite a target compacted and "
                                         "z-order-clustered for min/max "
                                         "scan pruning")
    op.add_argument("-t", "--table", required=True,
                    help="target table name under <work-dir>/target/")
    op.add_argument("--zorder", action="append", required=True,
                    help="clustering column; repeatable")
    op.add_argument("--n-files", type=int, default=8)
    op.add_argument("--work-dir", required=True)
    op.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    op.set_defaults(fn=cmd_optimize)

    cfp = sub.add_parser("config", help="dump the effective pipeline "
                                        "configuration as JSON")
    cfp.add_argument("-p", "--pipeline", required=True)
    cfp.set_defaults(fn=cmd_config)

    stp = sub.add_parser("status", help="per-table sync status off the "
                                        "watermark store (no Spark)")
    stp.add_argument("--work-dir", required=True)
    stp.add_argument("--strict", action="store_true",
                     help="exit 1 when any table is out of sync")
    stp.set_defaults(fn=cmd_status)

    hp = sub.add_parser("history", help="query the sync run log (one row "
                                        "per run x table)")
    hp.add_argument("-t", "--table", default=None)
    hp.add_argument("--last", type=int, default=20)
    hp.add_argument("--work-dir", required=True)
    hp.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    hp.set_defaults(fn=cmd_history)

    mp = sub.add_parser("markers", help="completion markers for "
                                        "orchestrators (Airflow-sensor "
                                        "existence contract)")
    mp.add_argument("action", choices=["check", "list"])
    mp.add_argument("-t", "--table", default=None,
                    help="check: table (or pipeline with --kind pipeline)")
    mp.add_argument("--status", default="SUCCESS")
    mp.add_argument("--kind", default="sync", choices=["sync", "pipeline"])
    mp.add_argument("--date", default=None, help="YYYYMMDD (default today)")
    mp.add_argument("--work-dir", required=True)
    mp.set_defaults(fn=cmd_markers)

    whp = sub.add_parser("warehouse", help="load a parquet target into a "
                                           "JDBC warehouse table and "
                                           "verify counts")
    whp.add_argument("--target-path", required=True)
    whp.add_argument("--url", required=True, help="JDBC URL")
    whp.add_argument("--table", required=True)
    whp.add_argument("--mode", default="append",
                     choices=["append", "replace", "upsert"])
    whp.add_argument("--keys", default=None,
                     help="comma-separated key columns (upsert)")
    whp.add_argument("--connections", type=int, default=8,
                     help="max parallel warehouse connections")
    whp.add_argument("--cpus", type=int, default=8)
    whp.set_defaults(fn=cmd_warehouse)

    tp = sub.add_parser("table", help="versioned-table lifecycle "
                                      "(plans/versioned.py)")
    tp.add_argument("action",
                    choices=["versions", "rollback", "vacuum", "merge",
                             "compact", "changes"])
    tp.add_argument("--path", required=True)
    tp.add_argument("--version", type=int, default=None)
    tp.add_argument("--keep-last", type=int, default=2)
    tp.add_argument("--delta", default=None,
                    help="parquet path of the upsert delta (merge)")
    tp.add_argument("--keys", default=None,
                    help="comma-separated merge key columns")
    tp.add_argument("--note", default=None,
                    help="idempotency note stamped into the manifest")
    tp.add_argument("--target-mb", type=int, default=128,
                    help="compaction target file size (MiB)")
    tp.add_argument("--from-version", type=int, default=None,
                    help="changefeed start version (changes)")
    tp.add_argument("--out", default=None,
                    help="optional parquet path for the change rows")
    tp.add_argument("--cpus", type=int, default=8)
    tp.set_defaults(fn=cmd_table)

    pp = sub.add_parser("profile", help="one-pass column profile of a "
                                        "source table (nulls, distinct, "
                                        "min/max)")
    pp.add_argument("--source-dir", required=True)
    pp.add_argument("-t", "--table", required=True)
    pp.add_argument("--cpus", type=int, default=8)
    pp.set_defaults(fn=cmd_profile)

    cm = sub.add_parser("column-mapping", help="manage persisted per-table "
                                               "rename maps (applied by "
                                               "sync before alignment)")
    cm.add_argument("action", choices=["list", "show", "set", "clear",
                                       "clear-all"])
    cm.add_argument("-t", "--table", default=None)
    cm.add_argument("--pair", action="append",
                    help="src=dst rename; repeatable")
    cm.add_argument("--json", default=None,
                    help='inline JSON object or @file of {"src": "dst"}')
    cm.add_argument("--work-dir", required=True,
                    help="same root the sync verb uses")
    cm.set_defaults(fn=cmd_column_mapping)

    ip = sub.add_parser("info", help="list CDC strategies, config keys "
                                     "and registry query families")
    ip.add_argument("--strategy", default=None,
                    help="show one strategy's requirements")
    ip.set_defaults(fn=cmd_info)

    cd = sub.add_parser("cdc", help="validate a table's CDC config "
                                    "against the real source schema")
    cd.add_argument("action", choices=["validate", "strategies",
                                       "examples", "migrate"])
    cd.add_argument("-o", "--output", default=None,
                    help="output YAML (examples/migrate)")
    cd.add_argument("-t", "--table", default=None)
    cd.add_argument("-p", "--pipeline", default=None,
                    help="pipeline YAML to pull the table config from")
    cd.add_argument("--strategy", default=None)
    cd.add_argument("--ts-column", default=None)
    cd.add_argument("--id-column", default=None)
    cd.add_argument("--source-dir", default=None,
                    help="directory of <table>.parquet source files "
                         "(required for validate)")
    cd.add_argument("--dry-run", action="store_true",
                    help="skip executing the test-watermark count")
    cd.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    cd.set_defaults(fn=cmd_cdc)

    di = sub.add_parser("dedup-index", help="persisted LSH near-dup "
                                            "index: build / add / probe "
                                            "/ stats")
    di.add_argument("action", choices=["build", "add", "probe", "stats"])
    di.add_argument("--index-dir", required=True)
    di.add_argument("--source-dir", default=None,
                    help="directory of <table>.parquet (build/add/probe)")
    di.add_argument("-t", "--table", default="documents")
    di.add_argument("--text-col", default="text")
    di.add_argument("--id-col", default="doc_id")
    di.add_argument("--ngram", type=int, default=3)
    di.add_argument("--num-hashes", type=int, default=16)
    di.add_argument("--bands", type=int, default=8)
    di.add_argument("--max-bucket-size", type=_nonneg_int, default=64,
                    help="stop-bucket cap applied at build AND probe (a "
                         "bucket of b docs emits b^2/2 candidate pairs, "
                         "so the CLI is capped BY DEFAULT; probe caps the "
                         "combined index+batch width, guarding buckets "
                         "regrown by `add`; pass 0 to opt in to uncapped "
                         "for exactness studies)")
    di.add_argument("-o", "--output", default=None,
                    help="probe: write pairs parquet here instead of "
                         "printing a sample")
    di.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    di.set_defaults(fn=cmd_dedup_index)

    rp = sub.add_parser("report", help="dataset-card corpus summary "
                                       "(volume/langs/quality/dup/KMV)")
    rp.add_argument("--source-dir", required=True)
    rp.add_argument("-t", "--table", default="documents")
    rp.add_argument("--text-col", default="text")
    rp.add_argument("--id-col", default="doc_id")
    rp.add_argument("--source-col", default="source")
    rp.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    rp.set_defaults(fn=cmd_report)

    mv = sub.add_parser("matview", help="maintained grouped aggregate: "
                                        "refresh / retract / read")
    mv.add_argument("action", choices=["refresh", "retract", "read"])
    mv.add_argument("--state-dir", required=True)
    mv.add_argument("--source-dir", default=None,
                    help="directory of <table>.parquet (refresh/retract)")
    mv.add_argument("-t", "--table", default="orders")
    mv.add_argument("--keys", default="o_orderstatus",
                    help="comma-separated group columns")
    mv.add_argument("--value-col", default="o_totalprice")
    mv.add_argument("--where", default=None,
                    help="optional SQL predicate selecting the batch")
    mv.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    mv.set_defaults(fn=cmd_matview)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
