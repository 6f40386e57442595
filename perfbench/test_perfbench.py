"""Tests of the benchmark's own rules; they start no Spark session.

    PYTHONDONTWRITEBYTECODE=1 python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import cpu  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from spans import Op  # noqa: E402
from stats import (  # noqa: E402
    RECONCILE_TOLERANCE, interval_union, low_quartile, median, reconcile_error, tail,
)

SPEC = run.load_spec()


@pytest.mark.parametrize("n, pct", [(200, 95.0), (100, 90.0), (40, 75.0), (21, 100 * 11 / 21)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    xs = list(range(n, 0, -1))  # unsorted on purpose
    got_pct, value = tail([float(x) for x in xs])
    assert got_pct == pytest.approx(pct)
    assert sum(x > value for x in xs) == 10
    assert sum(x <= value for x in xs) == n - 10


@pytest.mark.parametrize("n", [1, 10, 15, 20])
def test_tail_falls_back_to_max_below_twenty_samples(n):
    assert tail([float(x) for x in range(n)]) == (100.0, float(n - 1))


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        tail([])


def test_spec_shape():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(worker.WORKLOADS)
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def _timed(wall, driver, jvm_task):
    parts = {p: 0.0 for p in cpu.PARTS}
    parts.update(driver=driver, jvm_task=jvm_task, jvm_jit=5.0, jvm_gc=7.0)
    return Op("job", "x", "g", wall=wall, cpu_parts=parts)


def test_every_end_to_end_metric_is_produced():
    ops = [_timed(0.5, 0.1, 1.0), _timed(0.4, 0.1, 0.8), _timed(0.6, 0.2, 3.0), _timed(0.45, 0.1, 9.0)]
    res = worker._summary(worker.Run(None, False, 1, 4.0), ops, ops[:3], 2.5, 1.9, {}, {})
    produced = {"setup_s", *res["e2e"]}
    assert produced == {m["name"] for m in SPEC["end_to_end"]}
    # the CPU metric is the low quartile over the fixed-count ops and leaves
    # the JIT compiler and the garbage collector out; the wall view counts
    # all ops
    assert res["e2e"]["op_cpu_s"] == pytest.approx(low_quartile([1.1, 0.9, 3.2]))
    assert res["layers"]["cpu.jvm_jit_s"] == 5.0 and res["layers"]["cpu.jvm_gc_s"] == 7.0
    assert res["layers"]["pass.cpu_s"] == 2.5
    assert res["layers"]["cpu.driver_s"] == pytest.approx(0.4 / 3)
    assert res["layers"]["cpu.jvm_task_s"] == pytest.approx(4.8 / 3)
    assert res["layers"]["wall.op_p50_s"] == median([o.wall for o in ops])
    assert res["details"]["samples"] == len(ops)


def test_every_per_layer_metric_is_named_with_its_unit():
    names = worker.layer_names()
    assert [m["name"] for m in SPEC["per_layer"]] == names
    assert len(set(names)) == len(names)
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for name, unit in units.items():
        suffix = {"_ms": "ms", "_mb": "MB", "_s": "s"}
        want = next((u for s, u in suffix.items() if name.endswith(s)), None)
        assert unit == (want or ("count" if name.startswith("spark.") else "ratio")), name


def test_result_line_carries_units_and_rejects_missing_metrics():
    e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    res = {"correct": True, "attempted": 3, "failed": 0, "e2e": e2e, "layers": {}}
    line = run.result_line(SPEC, res, 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["setup_s"] == {"value": 1.0, "unit": "s"}
    assert line["metrics"]["op_cpu_s"]["unit"] == "s"
    json.dumps(line)
    with pytest.raises(KeyError):
        run.result_line(SPEC, res, 1)


def test_cpu_meter_charges_child_processes_but_not_itself():
    meter = cpu.CpuMeter()
    begin = meter.start()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    parts = meter.stop(begin)
    assert set(parts) == set(cpu.PARTS)
    assert parts["workers"] >= 0.05  # the child's busy loop, reaped by this process
    assert 0 <= parts["driver"] < 0.05  # the meter's own /proc scans are not charged


def test_cpu_meter_keeps_a_finished_jvm_thread_in_its_class(monkeypatch):
    # a JIT thread read at 30 ticks that has exited stays jit, not jvm_other
    meter = cpu.CpuMeter(root=1)
    meter._threads[(2, 3)] = ("jit", 30)
    monkeypatch.setattr(cpu, "_proc_table", lambda: {1: (0, "python3", 0, 0), 2: (1, "java", 100, 0)})
    monkeypatch.setattr(cpu.os, "listdir", lambda path: [])
    ticks = meter._descendants()
    assert ticks["jvm_jit"] == 30 and ticks["jvm_other"] == 70


def test_calibrator_samples_every_cpu_in_turn_and_restores_affinity():
    mask = os.sched_getaffinity(0)
    cal = cpu.Calibrator()
    for _ in range(2 * len(mask)):
        cal.sample()
    assert os.sched_getaffinity(0) == mask
    assert all(len(v) == 2 for v in cal.samples.values())
    cal.samples = {0: [1.0, 3.0, 2.0], 1: [4.0]}
    assert cal.speed_s() == pytest.approx(3.0)  # mean of the per-CPU medians


def test_low_quartile_ignores_upward_outliers():
    assert low_quartile([1.0, 1.1, 1.2, 1.3, 9.0, 9.5]) == pytest.approx(1.075)
    assert low_quartile([2.0]) == 2.0


def test_interval_union_clips_and_merges():
    assert interval_union([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert interval_union([], 0, 1) == 0.0


def _op(wall, call, action, cover, bookkeeping=0.01):
    op = Op("job", "x", "g", wall=wall, spans={"call": call, "action": action})
    op.counters = {k: 0.0 for k in ("jobs", "stages", "skipped_stages")}
    op.counters.update({f"{p}_ms": 0.0 for p in worker.PHASES})
    op.counters.update({k: 0.0 for k in worker.STAGE_COUNTERS})
    op.counters.update(stage_cover_s=cover, residual_s=wall - cover)
    op.bookkeeping_s = bookkeeping
    return op


def _traced_run(ops, window):
    r = worker.Run(None, False, 1, 4.0)
    r.tracer.enabled = True
    r.tracer.ops = ops
    r.window_s = window
    return r


def test_reconciliation_within_tolerance():
    ops = [_op(1.0, 0.2, 0.8, 0.6), _op(2.0, 0.5, 1.5, 1.2)]
    layers = worker.trace_layers(_traced_run(ops, 3.02))
    assert layers["trace.reconcile_err"] <= RECONCILE_TOLERANCE
    assert layers["driver.residual_s"] == pytest.approx(0.6)
    assert layers["trace.overhead_s"] == pytest.approx(0.01)


def test_reconciliation_flags_unaccounted_time():
    # spans that miss a fifth of an op, and a window the ops do not cover
    assert worker.trace_layers(_traced_run([_op(1.0, 0.2, 0.6, 0.5)], 1.01))[
        "trace.reconcile_err"] > RECONCILE_TOLERANCE
    assert worker.trace_layers(_traced_run([_op(1.0, 0.2, 0.8, 0.5)], 1.5))[
        "trace.reconcile_err"] > RECONCILE_TOLERANCE
    assert reconcile_error(2.0, [1.0, 1.0]) == 0.0


def test_datagen_is_deterministic_and_matches_the_table_catalog():
    from lrmr_spark.tables import TABLES

    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.make_tables(0.001, seed=7)["orders"].equals(a["orders"])


def test_adc_oracle_ranks_by_lookup_distance():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    coarse = [[float(x) for x in v] for v in vecs[:4]]
    o = worker.AdcOracle(coarse, coarse[:2], num_sub=4)
    o.add(np.arange(50), vecs)
    assert o.delete([0, 1, 99]) == 2
    q = [float(x) for x in vecs[10]]
    got = o.topk(q, k=5, n_probe=4)
    assert got == sorted(got) and len(got) == 5
