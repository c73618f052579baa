"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions: nothing inside the program is edited. A
span is (name, start, end, parent); spans stay in memory and are written
out once, when the run ends. Spark's own counters are read per operation
from its status store over py4j, which works with the UI off.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

from s3_redshift_backup_tool_spark.state import WatermarkStore


class Tracer:
    """In-memory spans plus per-operation samples of layer metrics.

    ``sample(name, value)`` appends one observation; the run reports the
    median of each metric's samples. A disabled tracer records nothing,
    so untraced runs pay one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(float(value))

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside the block (cold and warm-up operations)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items() if v}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "samples": self.samples, **extra}, f)


class CallTimer:
    """Accumulates wall time and call counts of wrapped functions, counting
    only the outermost call when wrapped functions call each other."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._depth = 0

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            self._depth += 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.seconds[name] += time.perf_counter() - t
                    self.calls[name] += 1
        return timed

    def reset(self) -> None:
        self.seconds.clear()
        self.calls.clear()


@contextlib.contextmanager
def patched(owner, attr: str, replacement):
    """Swap ``owner.attr`` for the duration of the block."""
    orig = getattr(owner, attr)
    setattr(owner, attr, replacement)
    try:
        yield orig
    finally:
        setattr(owner, attr, orig)


class InjectedCrash(RuntimeError):
    """Raised by :class:`BenchStore` to simulate a crash in the load phase."""


class BenchStore(WatermarkStore):
    """A ``WatermarkStore`` that marks ``sync_table``'s phases and can
    crash on demand.

    ``sync_table`` calls the store at each phase boundary (start_sync …
    update_extraction_state … start_load … update_load_state …
    update_target_count), so the times between those calls are the
    phase times, measured from outside the program. Time spent inside
    the store's own methods is accumulated in ``io`` (outermost calls
    only: the update methods call ``get`` themselves)."""

    PUBLIC = ("get", "start_sync", "update_extraction_state", "start_load",
              "update_load_state", "reconcile_file_counters",
              "update_target_count", "acquire_lock", "release_lock")

    def __init__(self, backend):
        super().__init__(backend)
        self.io = CallTimer()
        self.marks: dict[str, float] = {}
        self.crash_next_load = False
        for name in self.PUBLIC:
            setattr(self, name, self.io.wrap(name, getattr(self, name)))

    def begin_op(self) -> None:
        self.io.reset()
        self.marks.clear()

    def _mark(self, name: str) -> None:
        self.marks.setdefault(name, time.perf_counter())

    def start_sync(self, *a, **kw):
        out = super().start_sync(*a, **kw)
        self._mark("start_sync")
        return out

    def update_extraction_state(self, *a, **kw):
        self._mark("extracted")
        return super().update_extraction_state(*a, **kw)

    def start_load(self, *a, **kw):
        if self.crash_next_load:
            self.crash_next_load = False
            raise InjectedCrash("injected crash at start_load")
        out = super().start_load(*a, **kw)
        self._mark("load_start")
        return out

    def update_load_state(self, *a, **kw):
        self._mark("loaded")
        out = super().update_load_state(*a, **kw)
        self._mark("verify_start")
        return out

    def update_target_count(self, *a, **kw):
        self._mark("counted")
        return super().update_target_count(*a, **kw)

    def phases(self) -> dict[str, float]:
        """extract+stage, load and verify seconds of the last sync; a
        phase the sync skipped (no-op syncs never load) is absent."""
        m = self.marks
        out = {}
        if "start_sync" in m and "extracted" in m:
            out["sync.extract_stage_s"] = m["extracted"] - m["start_sync"]
        if "load_start" in m and "loaded" in m:
            out["sync.load_s"] = m["loaded"] - m["load_start"]
        if "verify_start" in m and "counted" in m:
            out["sync.verify_s"] = m["counted"] - m["verify_start"]
        return out


class SparkCounters:
    """Per-operation job, stage and task counters from Spark's status
    store. Each operation runs under its own job group; afterwards the
    listener bus is drained so the store has seen every job end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self._n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        holder: dict = {}
        try:
            yield holder
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            holder.update(self.read(gid))

    def read(self, gid: str) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        store = self.jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        run_ms = shuffle_w = spill = 0
        seen: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                si = tracker.getStageInfo(sid)
                if si is None or si.numCompletedTasks == 0:
                    continue   # skipped: its output was reused
                sd = store.lastStageAttempt(sid)
                stages += 1
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                shuffle_w += sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled()
        return {"spark.jobs": len(jobs), "spark.stages": stages,
                "spark.tasks": tasks,
                "spark.shuffle_write_mb": shuffle_w / 1e6,
                "spark.spill_mb": spill / 1e6,
                "spark.executor_run_s": run_ms / 1e3}
