"""The ``incremental_sync`` workload and the bulk-sync layer cuts.

It drives ``plans.sync.sync_table`` the way ``sync_pipeline`` does —
hybrid (ts, id) CDC, a target schema, ``maxRecordsPerFile`` from the
pipeline's default batch size — through a :class:`tracing.BenchStore`.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from s3_redshift_backup_tool_spark.operators import cdc
from s3_redshift_backup_tool_spark.operators.align import align_to_schema
from s3_redshift_backup_tool_spark.operators.cdc import Watermark
from s3_redshift_backup_tool_spark.operators.manifest import ParquetManifest, files_df
from s3_redshift_backup_tool_spark.plans.pipeline import DEFAULT_BATCH_SIZE, TableConfig
from s3_redshift_backup_tool_spark.plans.sync import (
    add_date_partitions, staging_partitions, sync_table)
from s3_redshift_backup_tool_spark.sources.readers import read_table
from s3_redshift_backup_tool_spark.state import LocalJsonBackend

import checks
import gen
from tracing import BenchStore, CallTimer, InjectedCrash, patched

BASE_ROWS = 150_000
BASE_MINUTES = 180 * 1440          # six months of minute-resolution ties
DELTA_ROWS = 5_000
DELTA_MINUTES = 60                 # each delta is the next hour
WARMUP_ROUNDS = 2
MEASURED_ROUNDS = 5
CUT_REPEATS = 2

TABLE = TableConfig("orders", cdc_strategy="hybrid",
                    cdc_timestamp_column="updated_at", cdc_id_column="id")
SCOPE = {"source_name": "shop", "target_scope": "lake"}
TARGET_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("updated_at", T.TimestampType()),
    T.StructField("amount", T.DecimalType(12, 2)),
    T.StructField("qty", T.IntegerType()),
    T.StructField("is_gift", T.BooleanType()),
    T.StructField("status", T.StringType()),
    T.StructField("note", T.StringType()),
])


class SyncDir:
    """One sync destination: state, staging and target under one root."""

    def __init__(self, root: str):
        self.root = root
        self.staging = os.path.join(root, "staging")
        self.target = os.path.join(root, "target")
        self.store = BenchStore(LocalJsonBackend(os.path.join(root, "state")))

    def sync(self, spark, src_dir: str):
        self.store.begin_op()
        return sync_table(spark, read_table(spark, src_dir, "orders"), TABLE,
                          self.store, staging_path=self.staging,
                          target_path=self.target, target_schema=TARGET_SCHEMA,
                          max_records_per_file=DEFAULT_BATCH_SIZE, **SCOPE)

    def watermark_doc(self) -> dict:
        return self.store.get(SCOPE["source_name"], TABLE.table_name,
                              SCOPE["target_scope"])

    def manifest_entries(self) -> int:
        files = checks.parquet_files(os.path.join(self.staging, "_manifest"))
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class SyncProbe(contextlib.ExitStack):
    """Layer timers wrapped around one sync in a traced run: the CDC
    ceiling probe and the manifest append are eager calls, so timing the
    call is timing the work."""

    def __init__(self, ctx):
        super().__init__()
        self.ctx = ctx
        self.calls = CallTimer()
        self.enter_context(patched(cdc, "snapshot_ceiling",
                                   self.calls.wrap("ceiling", cdc.snapshot_ceiling)))
        self.enter_context(patched(ParquetManifest, "record",
                                   self.calls.wrap("record", ParquetManifest.record)))

    def record(self, d: SyncDir, res, counters: dict) -> None:
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        for k, v in d.store.phases().items():
            tr.sample(k, v)
        tr.sample("cdc.ceiling_probe_s", self.calls.seconds["ceiling"])
        tr.sample("manifest.record_s", self.calls.seconds["record"])
        tr.sample("state.io_s", sum(d.store.io.seconds.values()))
        tr.sample("state.calls", sum(d.store.io.calls.values()))
        tr.sample("sync.staged_files", res.files_staged)
        tr.sample("manifest.entries", d.manifest_entries())
        for k, v in counters.items():
            tr.sample(k, v)
        # the load phase's anti-join, re-run from outside on the state the
        # sync left behind: every staged file against the whole manifest
        staged = checks.parquet_files(d.staging)
        t = time.perf_counter()
        ParquetManifest(self.ctx.spark, os.path.join(d.staging, "_manifest")) \
            .exclude_loaded(files_df(self.ctx.spark, staged)).count()
        tr.sample("manifest.exclude_s", time.perf_counter() - t)


def timed_sync(ctx, d: SyncDir, src_dir: str, label: str):
    """One sync, timed; in a traced run also its layer and Spark counters."""
    if not ctx.traced:
        t = time.perf_counter()
        res = d.sync(ctx.spark, src_dir)
        return time.perf_counter() - t, res
    with ctx.tracer.span(label), ctx.counters.group(label) as counters, \
            SyncProbe(ctx) as probe:
        t = time.perf_counter()
        res = d.sync(ctx.spark, src_dir)
        elapsed = time.perf_counter() - t
    probe.record(d, res, counters)
    return elapsed, res


def noop_sync(ctx, d: SyncDir, src_dir: str, target_rows: int) -> float:
    before = checks.parquet_files(d.target)
    t = time.perf_counter()
    res = d.sync(ctx.spark, src_dir)
    elapsed = time.perf_counter() - t
    checks.check_noop(res, before, checks.parquet_files(d.target))
    checks.check_sync_result(res, rows_extracted=0, target_rows=target_rows)
    ctx.tracer.sample("sync.noop_s", elapsed)
    return elapsed


# --------------------------------------------------------------------------
# bulk-sync layer cuts and the incremental_sync workload
# --------------------------------------------------------------------------


def bulk_cuts(ctx, src_dir: str) -> None:
    """Cumulative cuts through the sync's layers into noop sinks: scan,
    + CDC filter, + alignment, + date partition columns, + repartition
    shuffle, + the partitioned staging write. A layer's own cost is the
    difference between its cut and the one before. The chain runs
    ``CUT_REPEATS`` times; the run reports each cut's median."""
    spark = ctx.spark
    cfg = TABLE.cdc_config()
    out = os.path.join(ctx.work, "cut-staging")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def cut(name, build, sink=noop):
        with ctx.tracer.span(name):
            t = time.perf_counter()
            sink(build())
            ctx.tracer.sample(name, time.perf_counter() - t)

    def scan():
        return read_table(spark, src_dir, "orders")

    def filtered():
        df = scan()
        return cdc.apply_cdc(df, cfg, Watermark(),
                             ceiling=cdc.snapshot_ceiling(df, cfg.id_column))

    def aligned():
        return align_to_schema(filtered(), TARGET_SCHEMA)

    def dated():
        return add_date_partitions(aligned(), "updated_at")

    def repartitioned():
        df = dated()
        n = staging_partitions(df, int(spark.conf.get("spark.sql.shuffle.partitions")))
        return df.repartition(n, F.col("year"), F.col("month"))

    def staged_write(df):
        (df.write.mode("overwrite").option("maxRecordsPerFile", DEFAULT_BATCH_SIZE)
         .partitionBy("year", "month").parquet(out))

    for k in range(CUT_REPEATS):
        with ctx.tracer.span(f"bulk-cuts-{k}"):
            cut("readers.scan_s", scan)
            cut("cdc.filter_s", filtered)
            cut("align.cast_s", aligned)
            cut("sync.date_partitions_s", dated)
            cut("sync.repartition_s", repartitioned)
            cut("sync.staging_write_s", repartitioned, staged_write)
    shutil.rmtree(out, ignore_errors=True)


def incremental_sync(ctx) -> dict:
    """A bulk base load on fresh state, a crash in the load phase and its
    recovery, then rounds of (small delta sync, no-op sync) on the same
    table."""
    rng = np.random.default_rng(ctx.seed)
    src = os.path.join(ctx.work, "src")
    parts = os.path.join(src, "orders.parquet")
    d = SyncDir(os.path.join(ctx.work, "sync"))
    state = {"rows": 0, "minute": BASE_MINUTES, "part": 0}

    def add_batch(n: int, lo: int, hi: int) -> dict:
        ids = np.arange(state["rows"] + 1, state["rows"] + n + 1)
        cols = gen.orders_batch(rng, ids, lo, hi)
        gen.write_parquet(gen.orders_table(cols),
                          os.path.join(parts, f"part-{state['part']:05d}.parquet"))
        state["rows"] += n
        state["part"] += 1
        return cols

    def add_delta() -> dict:
        m = state["minute"]
        state["minute"] += DELTA_MINUTES
        return add_batch(DELTA_ROWS, m, m + DELTA_MINUTES)

    def check_after(res, cols: dict, n_new: int) -> None:
        checks.check_sync_result(res, rows_extracted=n_new, target_rows=state["rows"])
        checks.check_ids_exactly_once(d.target, state["rows"])
        checks.check_watermark(d.watermark_doc(), gen.max_cursor(cols))

    syncs: list[float] = []
    stored: list[float] = []
    recovery: list[float] = []

    def base_load() -> None:
        cols = add_batch(BASE_ROWS, 0, BASE_MINUTES)
        ctx.log(f"base table of {BASE_ROWS} rows generated")
        elapsed, res = timed_sync(ctx, d, src, "base")
        check_after(res, cols, BASE_ROWS)
        checks.check_target_digest(d.target, gen.digest(cols))
        n_staged = checks.check_staged_layout(d.staging)
        checks.require(n_staged == res.files_staged,
                       f"{n_staged} staged files on disk, sync reported {res.files_staged}")
        syncs.append(elapsed)
        ctx.log(f"base load {elapsed:.3f} s")

    def crash_and_recover() -> None:
        cols = add_delta()
        d.store.crash_next_load = True
        try:
            d.sync(ctx.spark, src)
        except InjectedCrash:
            pass
        else:
            raise checks.CheckFailed("the injected load crash did not surface")
        t = time.perf_counter()
        res = d.sync(ctx.spark, src)
        recovery.append(time.perf_counter() - t)
        ctx.log(f"recovery sync {recovery[-1]:.3f} s")
        checks.require(res.files_loaded > 0, "recovery sync loaded no stranded files")
        check_after(res, cols, 0)
        ctx.tracer.sample("sync.recovery_s", recovery[-1])

    def one_round(i: int) -> None:
        cols = add_delta()
        elapsed, res = timed_sync(ctx, d, src, f"delta-{i}")
        check_after(res, cols, DELTA_ROWS)
        noop = noop_sync(ctx, d, src, state["rows"])
        ctx.log(f"round {i}: delta sync {elapsed:.3f} s, no-op sync {noop:.3f} s")
        syncs.append(elapsed)
        stored.append(checks.disk_bytes(d.root) / state["rows"])

    with ctx.tracer.paused():
        ctx.attempt(base_load)
    first_op = syncs.pop(0)
    if ctx.traced:
        bulk_cuts(ctx, src)
    ctx.attempt(crash_and_recover, ops=2)
    with ctx.tracer.paused():
        for i in range(WARMUP_ROUNDS):
            ctx.attempt(lambda: one_round(f"warm-up {i + 1}"), ops=2)
    del syncs[:], stored[:]
    ctx.warm_rounds(one_round, MEASURED_ROUNDS, ops=2)
    return {"first_op_s": first_op,
            "rows_per_s": DELTA_ROWS / statistics.median(syncs or [first_op]),
            "stored_bytes_per_row": statistics.median(stored or [0.0])}
