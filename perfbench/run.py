"""Benchmark entry point: one seeded workload per process.

    python3 perfbench/run.py --workload incremental_sync --seed 1 --seconds 5 --trace 0

Workloads: ``incremental_sync`` (see syncs.py) and ``curate`` (see
curation.py). Run from the repository root. With
``--trace 0`` the last line of stdout is a JSON object carrying the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics,
and the run's spans and samples go to
``.perfbench/trace-<workload>-<seed>.json``. Scratch files live under
``.perfbench/`` and are removed when the run ends.
"""

import time

T0 = time.perf_counter()   # set-up time is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "first_op_s": "s", "rows_per_s": "rows/s",
              "stored_bytes_per_row": "bytes"}
PER_LAYER = {
    "session.start_s": "s",
    "readers.scan_s": "s", "cdc.filter_s": "s", "align.cast_s": "s",
    "sync.date_partitions_s": "s", "sync.repartition_s": "s",
    "sync.staging_write_s": "s",
    "sync.extract_stage_s": "s", "sync.load_s": "s", "sync.verify_s": "s",
    "sync.noop_s": "s", "sync.recovery_s": "s", "sync.staged_files": "count",
    "cdc.ceiling_probe_s": "s", "state.io_s": "s", "state.calls": "count",
    "manifest.exclude_s": "s", "manifest.record_s": "s",
    "manifest.entries": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "dedup.exact_s": "s", "dedup.lsh_pairs_s": "s", "dedup.components_s": "s",
    "text.quality_s": "s", "dedup.decontaminate_s": "s",
    "text.source_cap_s": "s", "sampling.pack_s": "s",
    "curate.stage_count_s": "s", "curate.shard_write_s": "s",
    "dedup.candidate_pairs": "count", "dedup.candidate_precision": "ratio",
    "dedup.planted_pairs": "count", "dedup.planted_recall": "ratio",
}


def machine_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and size Spark to this machine before the JVM starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb // 4)))}g"


class Ctx:
    """What a workload needs: the session, its scratch directory, the
    seed and run length, and the operation accounting."""

    def __init__(self, spark, work, seed, seconds, traced):
        from tracing import SparkCounters, Tracer
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.traced = seconds, traced
        self.tracer = Tracer(traced)
        self.counters = SparkCounters(spark) if traced else None
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn, ops: int = 1) -> None:
        self.attempted += ops
        fn()

    def log(self, what: str) -> None:
        print(f"[perfbench +{time.perf_counter() - T0:.1f}s] {what}",
              file=sys.stderr, flush=True)

    def fail(self, why: str) -> None:
        self.failed += 1
        print(f"failed operation: {why}", file=sys.stderr)

    def warm_rounds(self, fn, min_rounds: int, ops: int = 1) -> None:
        """Whole rounds of ``fn`` for ``seconds``, and at least
        ``min_rounds`` of them."""
        start = time.perf_counter()
        i = 1
        while i <= min_rounds or time.perf_counter() - start < self.seconds:
            self.attempt(lambda: fn(i), ops)
            i += 1


def stop_spark(spark) -> None:
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["incremental_sync", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    machine_env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        from s3_redshift_backup_tool_spark.session import get_spark
    except ImportError as e:
        print(f"the program is not here to benchmark: {e}", file=sys.stderr)
        shutil.rmtree(base, ignore_errors=True)
        return 2

    spark = None
    try:
        spark = get_spark("perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false"})
        spark.range(1).collect()
        setup_s = time.perf_counter() - T0

        import checks
        import curation
        import syncs
        run = {"incremental_sync": syncs.incremental_sync,
               "curate": curation.curate}[args.workload]
        ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace))
        correct = True
        e2e: dict = {}
        try:
            e2e = run(ctx)
        except checks.CheckFailed as e:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
            correct = False
        e2e["setup_s"] = setup_s
        if args.trace:
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(ctx.tracer.medians())
            layers["session.start_s"] = setup_s
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            ctx.tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"),
                            {"end_to_end": e2e, "attempted": ctx.attempted,
                             "failed": ctx.failed})
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items() if k in e2e}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
