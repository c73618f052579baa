"""Benchmark: headline sync throughput + per-query wall-clock at sf0.1.

Prints ONE JSON line:
  {"metric": ..., "value": <headline seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "rows_per_sec": ...}

Headline = the comparable number to BASELINE.md's 233K rows/s: wall-clock
of the full incremental slice read -> hybrid CDC filter -> schema align ->
partitioned parquet write over lineitem (600K rows at sf0.1), fresh
watermark (full extraction).

Each parity query is then executed to completion via a noop sink (no
driver collect) and timed individually.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _canary(spark) -> float:
    """Fixed-cost host-health probe, timed at sweep START and END.

    Round 10 shipped a whole-sweep phantom regression (headline 207K
    rows/s in the artifact vs 369K re-measured on a quiet box): the
    host degraded for the entire sweep and bench.py had no way to see
    it. This canary is a constant CPU+shuffle job (range -> modular
    arithmetic -> groupBy sum) whose cost depends only on the host, not
    on any repo code — if start/end disagree with each other or with
    the canary history in prior bench_full_r*.json files, the artifact
    self-reports "degraded": true and the numbers are not trusted as a
    round-over-round comparison.
    """
    from pyspark.sql import functions as F
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (spark.range(30_000_000)
              .select((F.col("id") % 997).alias("k"),
                      ((F.col("id") * 2654435761) % 1000000007).alias("v"))
              .groupBy("k").agg(F.sum("v").alias("s"))
              .write.format("noop").mode("overwrite").save())
        best = min(best, time.perf_counter() - t0)
    return best


def _canary_py(spark) -> float:
    """Second canary (r11 verdict item 3): shuffle-heavy + one
    Arrow-batch Python round-trip.

    The r20 sweep inflated ~35% while the JVM-compute canary above
    stayed flat: shuffle I/O and Python-worker costs degrade
    INDEPENDENTLY of JVM arithmetic on this class of shared VM (disk
    writeback steals shuffle bandwidth; neighbor load steals the
    Python workers' cores). This job is dominated by exactly those two
    costs — a wide-ish shuffle of 2M rows plus a mapInPandas identity
    pass — so a host that will inflate the sweep inflates THIS number
    first. `degraded` gates on either canary."""
    from pyspark.sql import functions as F
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (spark.range(2_000_000)
              .select((F.col("id") % 100_000).alias("k"),
                      (F.col("id") % 1000).alias("v"))
              .repartition(CPUS, "k")
              .mapInPandas(lambda it: it, schema="k long, v long")
              .groupBy("k").agg(F.sum("v").alias("s"))
              .write.format("noop").mode("overwrite").save())
        best = min(best, time.perf_counter() - t0)
    return best


def headline_sync(spark) -> tuple[float, int]:
    """Flagship sync slice on lineitem: fresh-watermark extraction."""
    from pyspark.sql import types as T

    from s3_redshift_backup_tool_spark.operators.align import align_to_schema
    from s3_redshift_backup_tool_spark.operators.cdc import (
        CDCConfig, Watermark, apply_cdc)
    from s3_redshift_backup_tool_spark.plans.sync import add_date_partitions
    from s3_redshift_backup_tool_spark.sources.readers import read_table

    out_dir = tempfile.mkdtemp(prefix="bench_sync_")
    # no round-robin pre-shuffle: the write repartitions by the date
    # partition columns anyway, so one shuffle covers both parallelism
    # and output layout (measured ~1.4x faster than two shuffles)
    li = read_table(spark, SF_DIR, "lineitem")
    n_rows = li.count()  # pre-counted outside the timed section
    target = T.StructType([
        T.StructField("l_orderkey", T.LongType(), False),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DecimalType(18, 2), True),
        T.StructField("l_extendedprice", T.DecimalType(18, 2), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), False),
        T.StructField("l_linestatus", T.StringType(), False),
        T.StructField("l_shipdate", T.TimestampType(), True),
    ])
    cfg = CDCConfig(strategy="hybrid", timestamp_column="l_shipdate",
                    id_column="l_orderkey")
    t0 = time.perf_counter()
    delta = apply_cdc(li, cfg, Watermark())          # fresh watermark: all rows
    aligned = align_to_schema(delta, target)
    staged = add_date_partitions(aligned, "l_shipdate")
    from pyspark.sql import functions as F

    from s3_redshift_backup_tool_spark.plans.sync import staging_partitions
    # size-aware like the production writer: fixed CPUS partitions spill
    # once the batch outgrows ~CPUS x 128 MB (measured at the 100x probe)
    n_parts = staging_partitions(staged, CPUS)
    (staged.repartition(n_parts, F.col("year"), F.col("month"))
           .write.mode("overwrite").partitionBy("year", "month")
           .parquet(os.path.join(out_dir, "staging")))
    elapsed = time.perf_counter() - t0
    shutil.rmtree(out_dir, ignore_errors=True)
    return elapsed, n_rows


def main() -> None:
    # The driver parses our stdout as JSON; round 7 shipped a degraded
    # artifact ("parsed": null) because SOMETHING in the process wrote to
    # stdout after/around the result line. Make the contract structural,
    # not hopeful: redirect fd 1 to stderr for the entire run so every
    # stray library/JVM write lands on stderr, and emit the single result
    # line on a saved dup of the real stdout at the very end.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from s3_redshift_backup_tool_spark.parity import REGISTRY
    import s3_redshift_backup_tool_spark.parity_ext  # noqa: F401
    from s3_redshift_backup_tool_spark.session import get_spark

    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=CPUS)

    # warm the JVM/codegen path and the Python-UDF worker pool once (a
    # long-lived cluster holds both warm; first-use costs would otherwise
    # land on whichever query happens to run first)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1_000).mapInPandas(
        lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()

    # cold run pays one-time JIT compilation, codegen, and parquet-
    # committer init (~4s of fixed cost a long-lived cluster amortizes to
    # zero) — reported separately; the headline is the best of three warm
    # runs (same jitter rationale as the per-query numbers below).
    # Idle-core precheck (headline only): r8's sweeps spread 338-397K
    # rows/s (~17%) on this shared sandbox, which made round-over-round
    # headline deltas pure noise. Wait briefly for the box to go quiet
    # and RECORD the spread so the artifact carries its own error bar.
    load_at_start = _wait_for_idle(max_wait_sec=60)
    # load5/load15 give the adjudication trail the "was the host ALREADY
    # loud before the sweep" signal (r12 verdict item 7) — load1 alone
    # can read low at the sampling instant of a bursty neighbor
    _, load5_at_start, load15_at_start = (round(v, 2)
                                          for v in os.getloadavg())
    # one UNTIMED canary first: the canary plan's own first execution
    # pays codegen/JIT, which made the r11 start canary read 2.6x the
    # end canary on an otherwise-fine host — the canary must measure
    # the HOST, not the JVM warm-up it shares with every first run
    _canary(spark)
    _canary_py(spark)
    canary_start = _canary(spark)
    canary_py_start = _canary_py(spark)
    cold_sec, _ = headline_sync(spark)
    w1, n_rows = headline_sync(spark)
    w2, _ = headline_sync(spark)
    w3, _ = headline_sync(spark)
    runs = sorted((w1, w2, w3))
    headline_sec = runs[0]
    headline_median = runs[1]
    spread_pct = round(100.0 * (runs[-1] - runs[0]) / runs[1], 1)

    # best-of-2 per query: single-JVM local mode shows multi-second GC/JIT
    # jitter on a handful of queries (measured 3s..91s on an idle box for
    # the same plan); the best of two runs is the reproducible number a
    # warmed cluster delivers, and one extra pass keeps total runtime
    # bounded.
    # Timed section includes DataFrame CONSTRUCTION, not just the write:
    # under AQE, a localCheckpoint (or partition-count probe) above an
    # exchange executes the upstream stages during construction, so
    # write-only timing silently under-reports every checkpoint-bearing
    # query (found in round 5 — the "3x ccnet speedup" was this artifact).
    def time_query(spec) -> float:
        t0 = time.perf_counter()
        df = spec.fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    query_times: dict[str, float] = {}
    # per-query start load (r12 verdict item 7): every mover
    # adjudication this round reduced to "what was the host doing at
    # that moment", and the artifact only sampled the sweep start —
    # record the 1-min load at each query's start in the full artifact
    query_load1: dict[str, float] = {}
    for name, spec in REGISTRY.items():
        query_load1[name] = round(os.getloadavg()[0], 2)
        query_times[name] = round(min(time_query(spec), time_query(spec)), 3)

    # Outlier re-time: best-of-2 inside a ~100s sweep does not survive a
    # multi-second GC pause (round 5 shipped a 14.9s artifact for a query
    # that runs 2.1s isolated — 7x overstated in the round's artifact of
    # record; round 6 saw a 2.9x blip slide under a 3x trigger). Any
    # query whose best-of-2 exceeds 1.5x its cost in the prior round's
    # full history by more than half a second (round 10's ccnet phantom
    # was 1.92x and slid under the old 2x gate), OR regressed >2.5x
    # relative to prior regardless of absolute size (round 7 shipped an
    # unexplained 0.311s -> 1.173s = 3.8x mover that slid under the
    # absolute gate), or, with no history, 3x this sweep's median and
    # >5s, gets ONE isolated re-time after a GC, and the artifact
    # records the better number plus which queries were re-timed.
    prior_full = _prior_round_full()
    prior_q = dict(prior_full.get("queries", {}))
    med = sorted(query_times.values())[len(query_times) // 2]
    retimed: dict[str, float] = {}
    for name, best in list(query_times.items()):
        prior = prior_q.get(name)
        suspicious = ((prior is not None and best > 1.5 * prior
                       and best - prior > 0.5)
                      or (prior is not None and best > 2.5 * prior
                          and best > 0.2)
                      or (prior is None and best > 5.0 and best > 3 * med))
        if suspicious:
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
            iso = time_query(REGISTRY[name])
            if iso < best:
                # provenance is unambiguous by construction (r11 verdict
                # item 8): 'was' is the in-sweep best-of-2 this isolated
                # re-time replaced; 'final' is the number queries{}
                # carries — one final-time field per query, no
                # cross-artifact reconciliation needed
                retimed[name] = {"was": round(best, 3),
                                 "final": round(iso, 3)}
                query_times[name] = round(iso, 3)

    # End-of-sweep canaries + degradation verdict (r10 verdict item 1a;
    # r11 item 3 added the shuffle+Python canary): the sweep is flagged
    # degraded when EITHER canary's start/end disagree by >1.5x (host
    # load changed mid-sweep) or when both ends of either exceed 1.5x
    # that canary's median across prior non-degraded sweeps (the whole
    # sweep ran on a slow host — round 10's failure; the JVM-compute
    # canary alone missed the r20 inflation because shuffle and
    # Python-worker costs degrade independently of JVM arithmetic).
    canary_end = _canary(spark)
    canary_py_end = _canary_py(spark)
    canary_prior = _prior_canary_median()
    canary_py_prior = _prior_canary_median(("canary_py_start_sec",
                                            "canary_py_end_sec"))

    def _pair_degraded(start: float, end: float,
                       prior: float | None) -> bool:
        return (end > 1.5 * start or start > 1.5 * end
                or (prior is not None and min(start, end) > 1.5 * prior))

    degraded = (_pair_degraded(canary_start, canary_end, canary_prior)
                or _pair_degraded(canary_py_start, canary_py_end,
                                  canary_py_prior))

    # Noisy tier (r12 verdict item 1): the r12 sweep published a
    # below-baseline headline from a host whose instruments all said
    # "loaded" (py-canary end +29% over its prior median, 49.6%
    # headline spread, load1 2.35) yet passed degraded:false because
    # both canaries sat under the 1.5x pair gate. `noisy` is the
    # actuator for those softer signals: EITHER canary's END above
    # 1.25x its prior-median, or headline spread above 30%. A noisy
    # sweep's numbers are still reported, but the sweep is EXCLUDED as
    # a comparison baseline for future rounds (outlier detection,
    # canary medians, regressions diff) exactly like a degraded one.
    def _pair_noisy(end: float, prior: float | None) -> bool:
        return prior is not None and end > 1.25 * prior

    noisy = (degraded
             or _pair_noisy(canary_end, canary_prior)
             or _pair_noisy(canary_py_end, canary_py_prior)
             or spread_pct > 30.0)

    # Headline retime (r10 verdict item 1b): the outlier-retime loop
    # above never covered the headline itself, so r10's artifact
    # published a 45% phantom collapse uncontested. If the best-of-3
    # headline exceeds 1.4x the prior non-degraded round's, or the
    # sweep is flagged degraded/noisy, re-run the headline after a GC
    # and record both numbers. `headline_retime_attempted` records
    # that the gate FIRED even when the extra runs were not faster —
    # r12's artifact could not distinguish "not attempted" from
    # "attempted, no improvement" (headline_retimed_from stays null in
    # both cases).
    headline_retimed_from = None
    headline_retime_attempted = False
    prior_headline = prior_full.get("value")
    if (degraded or noisy or (prior_headline is not None
                              and headline_sec > 1.4 * prior_headline)):
        headline_retime_attempted = True
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        extra = [headline_sync(spark)[0] for _ in range(2)]
        if min(extra) < headline_sec:
            headline_retimed_from = round(headline_sec, 3)
            runs = sorted(runs + [round(e, 3) for e in extra])
            headline_sec = runs[0]
            headline_median = runs[len(runs) // 2]
            spread_pct = round(
                100.0 * (runs[-1] - runs[0]) / runs[len(runs) // 2], 1)
            # the retime can only WIDEN the recorded spread (faster
            # runs lower the min, the max stays), so re-evaluate the
            # spread term of `noisy` against the published number —
            # otherwise the artifact could display spread > 30% while
            # claiming noisy: false
            noisy = noisy or spread_pct > 30.0

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        # format 3 (ADVICE r12): declares the r11+ schema — the full
        # artifact's retimed_outliers is name -> {was, final} (was
        # name -> float through r10 files) and the bounded stdout line
        # carries an int retime COUNT; longitudinal readers branch on
        # this field instead of sniffing value types.
        "format": 3,
        "metric": "e2e_sync_lineitem_read_cdc_align_partitioned_write",
        "value": round(headline_sec, 3),
        "unit": "sec",
        "queries": query_times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows": n_rows,
        "cold_run_sec": round(cold_sec, 3),
        "rows_per_sec": round(n_rows / headline_sec),
        "rows_per_sec_median": round(n_rows / headline_median),
        "headline_runs_sec": [round(r, 3) for r in runs],
        "headline_spread_pct": spread_pct,
        "load1_at_start": load_at_start,
        "load5_at_start": load5_at_start,
        "load15_at_start": load15_at_start,
        "query_load1": query_load1,   # full artifact only (stripped
                                      # from the bounded stdout line)
        "baseline_rows_per_sec": 233_000,
        "total_query_sec": round(sum(query_times.values()), 3),
        "retimed_outliers": retimed,   # name -> {was, final} provenance
        "canary_start_sec": round(canary_start, 3),
        "canary_end_sec": round(canary_end, 3),
        "canary_prior_median_sec": (round(canary_prior, 3)
                                    if canary_prior is not None else None),
        "canary_py_start_sec": round(canary_py_start, 3),
        "canary_py_end_sec": round(canary_py_end, 3),
        "canary_py_prior_median_sec": (round(canary_py_prior, 3)
                                       if canary_py_prior is not None
                                       else None),
        "degraded": degraded,
        "noisy": noisy,
        "headline_retimed_from": headline_retimed_from,
        "headline_retime_attempted": headline_retime_attempted,
    }
    full_file = _persist_full_history(result)

    # The driver records only a 2 KB TAIL of stdout and then json-parses
    # it: round 7's artifact had "parsed": null because the single result
    # line, carrying all 203 per-query times, was ~7 KB — truncated
    # mid-line into garbage. Emit a line guaranteed to fit: keep the
    # headline fields, include per-query times most-expensive-first only
    # while the encoded line stays under the budget, and point at the
    # checked-in full-history file for the rest.
    line = _bounded_stdout_line(result, full_file, budget=1800)
    os.write(real_stdout, (line + "\n").encode())
    os.close(real_stdout)


def _wait_for_idle(max_wait_sec: int) -> float:
    """Headline-only precheck: wait (bounded) for 1-min load below 75%
    of our CPU budget so the three timed runs measure the plan, not a
    neighbor. Returns the load actually observed at the end — recorded
    in the artifact so an elevated-load sweep is self-describing."""
    deadline = time.monotonic() + max_wait_sec
    load = os.getloadavg()[0]
    while load > 0.75 * CPUS and time.monotonic() < deadline:
        time.sleep(5)
        load = os.getloadavg()[0]
    return round(load, 2)


def _bounded_stdout_line(result: dict, full_file: str, budget: int) -> str:
    slim = {k: v for k, v in result.items()
            if k not in ("queries", "query_load1")}
    # the per-query {was, final} provenance map can alone exceed the
    # stdout budget (41 retimes in r20); the full file has it — the
    # line carries only the count
    slim["retimed_outliers"] = len(result.get("retimed_outliers", {}))
    slim["queries"] = {}
    slim["n_queries"] = len(result["queries"])
    slim["queries_full_in"] = os.path.basename(full_file)
    # 'queries_elided' is added AFTER the loop, so reserve its worst-case
    # encoded width up front — otherwise the emitted line can exceed the
    # budget by the trailing key's length and only stays parseable by
    # luck against the driver's 2 KB stdout tail.
    reserve = len(json.dumps({"queries_elided": len(result["queries"])})) + 2
    # STABLE MEMBERSHIP (r13 verdict item 6): rank by the PRIOR quiet
    # sweep's cost where available, falling back to this sweep's cost
    # for queries with no history. Ranking by current cost made the
    # round-over-round common set structurally biased: a query that got
    # FASTER fell off the line while one inflated by host noise stayed
    # on, so the driver's geomean-over-common-queries systematically
    # read "regressed". With prior-cost ranking the same queries stay
    # on the line across rounds and their deltas are the unbiased view.
    # Same budget, same schema — additions to queries{} only.
    prior_cost = dict(_prior_round_full().get("queries", {}))

    def _rank_cost(kv):
        prior = prior_cost.get(kv[0])     # a prior 0.0 is history too
        return -(kv[1] if prior is None else prior)
    by_cost = sorted(result["queries"].items(), key=_rank_cost)
    for name, sec in by_cost:
        slim["queries"][name] = sec
        if len(json.dumps(slim)) > budget - reserve:
            del slim["queries"][name]
            break
    slim["queries_elided"] = len(result["queries"]) - len(slim["queries"])
    return json.dumps(slim)


def _prior_full_files() -> list[str]:
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    return sorted(
        glob.glob(os.path.join(repo, "bench_full_r*.json")),
        key=lambda f: int(re.search(r"r(\d+)\.json$", f).group(1)))


def _excluded_as_baseline(data: dict) -> bool:
    """A sweep is unusable as a round-over-round comparison baseline
    when it self-reported degraded (canary pair gate) OR noisy (canary
    end above 1.25x prior median / spread above 30% — r12 verdict
    item 1). Pre-format-3 artifacts have no `noisy` field but DO
    record the fields the tier is computed from (their own canary ends
    + the prior medians they saw), so classify them retroactively —
    this is what excludes r23 (spread 49.6%, py-canary end 1.29x its
    recorded prior median), the sweep the r12 verdict adjudicated as
    measured-noisy."""
    if data.get("degraded"):
        return True
    if "noisy" in data:
        return bool(data["noisy"])
    if (data.get("headline_spread_pct") or 0.0) > 30.0:
        return True
    for end_k, prior_k in (("canary_end_sec", "canary_prior_median_sec"),
                           ("canary_py_end_sec",
                            "canary_py_prior_median_sec")):
        end, prior = data.get(end_k), data.get(prior_k)
        if (isinstance(end, (int, float)) and isinstance(prior, (int, float))
                and end > 1.25 * prior):
            return True
    return False


def _prior_round_full(skip_degraded: bool = True) -> dict:
    """Full result dict of the most recent quiet sweep — the cost
    baseline for outlier detection and the headline retime gate.
    Degraded/noisy sweeps (host-load phantom, e.g. round 10's r15
    file; round 12's r23 inflation) are skipped so phantoms don't
    become next round's baseline."""
    for f in reversed(_prior_full_files()):
        try:
            with open(f) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if skip_degraded and _excluded_as_baseline(data):
            continue
        return data
    return {}


def _prior_canary_median(keys: tuple[str, str] = ("canary_start_sec",
                                                  "canary_end_sec")
                         ) -> float | None:
    """Median of the given canary fields across prior quiet sweeps
    (default: the JVM-compute canary; pass the canary_py_* keys for
    the shuffle+Python one)."""
    vals = []
    for f in _prior_full_files():
        try:
            with open(f) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if _excluded_as_baseline(data):
            continue
        for k in keys:
            if isinstance(data.get(k), (int, float)):
                vals.append(data[k])
    if not vals:
        return None
    vals.sort()
    return vals[len(vals) // 2]


def _persist_full_history(result: dict) -> str:
    """The driver truncates BENCH_r{N}.json to a 2 KB tail, which makes
    round-over-round per-query diffs impossible from the artifacts
    alone. Keep the FULL result in-repo as bench_full_r{NN}.json (round
    index = latest driver BENCH_r file + 1) and write the
    regressions-vs-prior block to an UNTRACKED sidecar
    (bench_regressions_r{NN}.md) that tools/fold_regressions.py folds
    into PERF.md at the start of the next session. bench.py editing
    PERF.md directly left the tree dirty at three consecutive round
    closes (the driver runs bench AFTER the final commit — r12 verdict
    item 5)."""
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    rounds = [int(m.group(1)) for f in glob.glob(
        os.path.join(repo, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", f))]
    # the driver occasionally skips a BENCH_r artifact (round 6 had
    # none), so also advance past our own full-history files — never
    # overwrite a prior round's sweep
    full_rounds = [int(m.group(1)) for f in glob.glob(
        os.path.join(repo, "bench_full_r*.json"))
        if (m := re.search(r"bench_full_r(\d+)\.json$", f))]
    n = max([r + 1 for r in rounds + full_rounds] or [1])
    full_file = os.path.join(repo, f"bench_full_r{n:02d}.json")
    with open(full_file, "w") as fh:
        json.dump(result, fh, indent=2, sort_keys=True)

    # Diff against the most recent NON-degraded prior sweep: a phantom
    # sweep (r15 = round 10's loaded host) as baseline would report its
    # recovery as across-the-board "improvements" and mask real movers.
    prior_files = []
    for f in sorted(
            f for f in glob.glob(os.path.join(repo, "bench_full_r*.json"))
            if (m := re.search(r"bench_full_r(\d+)\.json$", f))
            and int(m.group(1)) < n):
        try:
            with open(f) as fh:
                if not _excluded_as_baseline(json.load(fh)):
                    prior_files.append(f)
        except (OSError, ValueError):
            continue
    lines = [f"<!-- bench-regressions:start (auto-written by bench.py) -->",
             f"## Per-query regressions vs prior round (auto, r{n:02d})",
             ""]
    if result.get("degraded") or result.get("noisy"):
        tier = "degraded" if result.get("degraded") else "noisy"
        lines += [f"**This sweep is flagged `{tier}`** (canaries "
                  f"start/end {result.get('canary_start_sec')}s/"
                  f"{result.get('canary_end_sec')}s JVM, "
                  f"{result.get('canary_py_start_sec')}s/"
                  f"{result.get('canary_py_end_sec')}s py, vs prior "
                  f"medians {result.get('canary_prior_median_sec')}s/"
                  f"{result.get('canary_py_prior_median_sec')}s; spread "
                  f"{result.get('headline_spread_pct')}%) — treat "
                  "movers below as suspect host noise, not regressions; "
                  "this sweep is excluded as a future comparison "
                  "baseline.",
                  ""]
    if not prior_files:
        lines += ["No prior bench_full_r*.json to diff against — full "
                  "per-query history starts this round."]
    else:
        with open(prior_files[-1]) as fh:
            prev = json.load(fh)
        pq, cq = prev.get("queries", {}), result["queries"]
        # Environmental filter (r8 verdict item 7): the sweep's own
        # measured headline spread is the noise floor — a mover whose
        # delta sits inside spread x prev (and under 0.5 s absolute)
        # is shared-sandbox jitter, not a regression; don't flag it.
        noise = max(result.get("headline_spread_pct", 0.0),
                    prev.get("headline_spread_pct", 0.0)) / 100.0
        real = [(cq[k] - pq[k], k) for k in cq if k in pq
                and abs(cq[k] - pq[k]) > max(0.5, noise * pq[k])]
        suppressed = sum(1 for k in cq if k in pq and cq[k] != pq[k]) \
            - len(real)
        deltas = sorted(real, reverse=True)[:5]
        prev_r = re.search(r"bench_full_r(\d+)", prior_files[-1]).group(1)
        lines += [f"Movers vs r{prev_r} beyond the environmental noise "
                  f"floor (spread {result.get('headline_spread_pct')}% "
                  f"this sweep; {suppressed} within-noise deltas "
                  f"suppressed; + = slower now; headline "
                  f"{prev.get('rows_per_sec')} -> "
                  f"{result['rows_per_sec']} rows/s, median "
                  f"{result.get('rows_per_sec_median')}):", ""]
        if deltas:
            lines += ["| query | prev s | now s | delta s |",
                      "|---|---|---|---|"]
            lines += [f"| {k} | {pq[k]:.3f} | {cq[k]:.3f} | {d:+.3f} |"
                      for d, k in deltas]
        else:
            lines += ["No movers beyond the noise floor."]
    lines.append("<!-- bench-regressions:end -->")
    block = "\n".join(lines)
    sidecar = os.path.join(repo, f"bench_regressions_r{n:02d}.md")
    with open(sidecar, "w") as fh:
        fh.write(block + "\n")
    return full_file


if __name__ == "__main__":
    main()
