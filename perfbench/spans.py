"""Per-op spans and the Spark counters read from outside the program.

Every timed call into the program is one *op*. An op carries its wall time,
the CPU seconds the program spent in it (``cpu.CpuMeter``), and spans for the
layers the benchmark can bracket from its own code (``load``, ``call``,
``action``, ``wait``). With tracing on, each op also runs under its own
Spark job group; after the op the tracer drains the listener bus and reads
the group's jobs from ``statusTracker`` and each stage from
``statusStore.lastStageAttempt``, plus the Catalyst phase times of the
DataFrame the op executed. All of that bookkeeping happens after the op's
clock stops and is timed separately as the tracing overhead.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from cpu import UNCOUNTED, Calibrator, CpuMeter
from stats import interval_union

PHASES = ("analysis", "optimization", "planning")
STAGE_COUNTERS = ("task_s", "cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


@dataclass
class Op:
    kind: str
    name: str
    group: str
    start: float = 0.0
    wall: float = 0.0
    cpu_parts: dict[str, float] = field(default_factory=dict)  # cpu.PARTS -> CPU seconds
    spans: dict[str, float] = field(default_factory=dict)
    groups: list[str] = field(default_factory=list)  # extra job groups (background jobs)
    plan_df: object = None  # DataFrame whose Catalyst phases are read
    counters: dict[str, float] = field(default_factory=dict)
    bookkeeping_s: float = 0.0

    @property
    def cpu(self) -> float:
        """The CPU the end-to-end metrics count: every part but
        ``cpu.UNCOUNTED`` (the JVM's JIT compiler and garbage collector)."""
        return sum(v for k, v in self.cpu_parts.items() if k not in UNCOUNTED)

    @contextmanager
    def span(self, layer: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[layer] = self.spans.get(layer, 0.0) + time.perf_counter() - t0


class Tracer:
    def __init__(self, spark, enabled: bool, calibrator: Calibrator):
        self.spark = spark
        self.enabled = enabled
        self.calibrator = calibrator  # sampled once before every op
        self.meter = CpuMeter()
        self.ops: list[Op] = []
        self._ids = itertools.count()

    @contextmanager
    def op(self, kind: str, name: str):
        """One op: wall time and CPU inside the block. Everything the tracer
        does around it (CPU readings, job group, counters) is bookkeeping."""
        t_enter = time.perf_counter()
        op = Op(kind, name, f"perfbench-{next(self._ids)}")
        sc = self.spark.sparkContext if self.enabled else None
        if self.enabled:
            sc.setJobGroup(op.group, f"{kind}:{name}")
        self.calibrator.sample()
        cpu0 = self.meter.start()
        op.start = time.time()
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            op.wall = time.perf_counter() - t0
            op.cpu_parts = self.meter.stop(cpu0)
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                op.counters = self._counters(op)
            op.bookkeeping_s = time.perf_counter() - t_enter - op.wall
            self.ops.append(op)

    def _counters(self, op: Op) -> dict[str, float]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        c = dict.fromkeys(("jobs", "stages", "skipped_stages", *STAGE_COUNTERS), 0.0)
        intervals = []
        for group in [op.group, *op.groups]:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        c["skipped_stages"] += 1
                        continue
                    c["stages"] += 1
                    c["task_s"] += sd.executorRunTime() / 1e3
                    c["cpu_s"] += sd.executorCpuTime() / 1e9
                    c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                    c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        c["stage_cover_s"] = interval_union(intervals, op.start, op.start + op.wall)
        c["residual_s"] = op.wall - c["stage_cover_s"]
        c.update(dict.fromkeys((f"{p}_ms" for p in PHASES), 0.0))
        if op.plan_df is not None:
            it = op.plan_df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in PHASES:
                    c[f"{kv._1()}_ms"] = float(kv._2().durationMs())
        return c
