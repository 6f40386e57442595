"""CPU time of the benchmarked program (the Python driver, its JVM and the
JVM's Python workers) and the calibration loop that scales it to a
reference speed.

The gated metrics are CPU seconds rather than wall seconds: a thread that
is runnable but waits for a CPU, or sleeps in a poll loop, is charged no
CPU, so the count follows the work the program does. On a shared host the
speed of the virtual CPU itself drifts, and the CPU time of the same work
drifts with it; ``calibrate`` measures that speed (see README.md).

The driver's own share comes from ``time.process_time`` (nanoseconds); every
descendant (the JVM, the PySpark daemon and its workers) is read from
``/proc/<pid>/stat``, user plus system time of the live process plus the
children it has reaped, in clock ticks (10 ms). Per-op readings are summed
over many ops, so the tick rounding averages out.
"""

from __future__ import annotations

import os
import statistics
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


# JVM threads by name prefix (/proc/<pid>/task/<tid>/stat comm, 15 chars)
THREAD_CLASSES = (
    ("C1 CompilerThre", "jit"), ("C2 CompilerThre", "jit"),
    ("GC Thread", "gc"), ("G1 ", "gc"),
    ("Executor task l", "task"),
)
PARTS = ("driver", "jvm_jit", "jvm_gc", "jvm_task", "jvm_other", "workers")
# Parts the end-to-end metrics leave out: the JVM runs its JIT compiler and
# garbage collector threads when its own heuristics say so (a compile queue,
# a concurrent marking cycle), a varying time after the work that caused it.
# In one run of ten a concurrent cycle raised small_jobs' CPU per job by 40%
# while every other part stayed put. Both are still reported per layer.
UNCOUNTED = ("jvm_jit", "jvm_gc")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # exited while we looked
        return None
    return stat[stat.index("(") + 1: stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, utime + stime, cutime + cstime) in ticks for every
    process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _read_stat(f"/proc/{name}/stat")):
            comm, rest = st
            # after comm: state ppid ... utime stime cutime cstime are fields 11..14
            out[int(name)] = (int(rest[1]), comm, int(rest[11]) + int(rest[12]),
                              int(rest[13]) + int(rest[14]))
    return out


class CpuMeter:
    """Brackets a stretch of the driver's code and returns the CPU seconds
    the program tree spent in it, by part (``PARTS``): the Python driver,
    the JVM's JIT compiler, garbage collector, task and other threads, and
    every other descendant (the PySpark daemon and its Python workers).

    ``start`` reads the descendants first and the driver last, ``stop`` the
    driver first, so the meter's own /proc scans are not charged to the
    driver. A JVM thread's CPU is its last reading; what a thread uses
    between its last reading and its exit is charged to ``jvm_other``."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._threads: dict[tuple[int, int], tuple[str, int]] = {}

    def _descendants(self) -> dict[str, int]:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, *_) in table.items():
            kids.setdefault(ppid, []).append(pid)
        ticks = dict.fromkeys(PARTS, 0)
        ticks["workers"] = table[self.root][3]  # children the driver has reaped
        frontier = list(kids.get(self.root, ()))
        while frontier:
            pid = frontier.pop()
            _, comm, own, reaped = table[pid]
            frontier.extend(kids.get(pid, ()))
            if comm != "java":
                ticks["workers"] += own + reaped
                continue
            ticks["jvm_other"] += own + reaped
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:  # the JVM exited while we looked
                tids = []
            for tid in tids:
                st = _read_stat(f"/proc/{pid}/task/{tid}/stat")
                cls = st and next((c for p, c in THREAD_CLASSES if st[0].startswith(p)), None)
                if cls:
                    self._threads[pid, int(tid)] = (cls, int(st[1][11]) + int(st[1][12]))
            for (jvm, _), (cls, t) in self._threads.items():
                if jvm == pid:
                    ticks[f"jvm_{cls}"] += t
                    ticks["jvm_other"] -= t
        return ticks

    def start(self) -> tuple[float, dict[str, int]]:
        others = self._descendants()
        return time.process_time(), others

    def stop(self, begin: tuple[float, dict[str, int]]) -> dict[str, float]:
        me = time.process_time()
        others = self._descendants()
        out = {p: (others[p] - begin[1][p]) * TICK_S for p in PARTS}
        out["driver"] = me - begin[0]
        return out


# The calibration loop: fixed pure-Python work, timed in this thread's CPU
# time. On the quiet reference host (a 4-vCPU Intel Xeon VM) it takes
# CAL_REF_S. The host lends each virtual CPU at its own speed, which drifts
# by up to ~2x over minutes and moves the CPU time of the same work (and its
# wall time) nearly in step; the ratio of the program's CPU to the
# calibration's moves far less.
CAL_ITERS = 200_000
CAL_REF_S = 0.013


def calibrate(cpu: int) -> float:
    """Thread CPU seconds of one calibration loop, run now on virtual CPU
    ``cpu`` (the calling thread is pinned there for the loop)."""
    mask = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {cpu})
    try:
        t0 = time.thread_time()
        s = 0
        for i in range(CAL_ITERS):
            s += i * i % 7
        return time.thread_time() - t0
    finally:
        os.sched_setaffinity(0, mask)


class Calibrator:
    """Calibration samples taken in turn on every virtual CPU this process
    may use. The program's threads run on all of them, and at one moment
    they can differ in speed by a fifth or more."""

    def __init__(self):
        self.samples: dict[int, list[float]] = {c: [] for c in sorted(os.sched_getaffinity(0))}
        self._turn = 0

    def sample(self) -> None:
        cpus = list(self.samples)
        cpu = cpus[self._turn % len(cpus)]
        self._turn += 1
        self.samples[cpu].append(calibrate(cpu))

    def speed_s(self) -> float:
        """The loop's time on this host over the run: the mean over the
        virtual CPUs of each one's median sample."""
        meds = [statistics.median(v) for v in self.samples.values() if v]
        return sum(meds) / len(meds)
