"""The benchmarked process: one workload, one Spark session, one result file.

``run.py`` starts this with a fresh run root in its environment; see
README.md for the workloads and metrics. Usage (normally via run.py):

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE RUN_ROOT
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from contextlib import contextmanager

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path[:0] = [HERE, ROOT]

# the program under test: fail before any work if it is not there
from lrmr_spark.catalog import INDEX_LIFECYCLE_ENTRIES, queries  # noqa: E402
from lrmr_spark.session import get_spark  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import datagen  # noqa: E402
from cpu import CAL_REF_S, PARTS, TICK_S, Calibrator  # noqa: E402
from fingerprint import collect_fingerprint, spark_fingerprint_df  # noqa: E402
from stats import RECONCILE_TOLERANCE, low_quartile, median, reconcile_error, tail  # noqa: E402
from spans import PHASES, STAGE_COUNTERS, Tracer  # noqa: E402

SETUPS = 3  # session set-ups per run; setup_s is their median
# small_jobs: unmeasured cycles of the three shapes, then the cycles whose
# CPU is measured. The JVM is still compiling its hot paths here, so CPU per
# job falls with the number of jobs run before; counting cycles rather than
# seconds keeps that the same on a slow host.
WARMUP_CYCLES = 3
CPU_CYCLES = 8
SERVE_CPU_QUERIES = 7  # catalog_index: serve queries per phase whose CPU is measured
# The 48-run time budget leaves room for one fresh-session catalog pass of
# about 15 s on 4 quiet cores: the six cheapest headline entries (each under
# 1.5 s, each a shape a kept entry shares: scan+agg, window, brute-force
# ANN, text, token-set dedup, join) stay out, and so does ann_ivfpq_topk,
# whose IVF-PQ write and ADC query the lifecycle half runs; one streaming
# entry keeps the streaming/ layer in.
LEFT_OUT = {
    "tpch_q6_forecast_revenue", "window_topk_per_customer", "asof_last_purchase",
    "dedup_tokenset", "ann_cosine_topk", "text_quality_features", "ann_ivfpq_topk",
}
STREAMING_ENTRIES = ["streaming_tumbling_counts"]
SMALL_SF, CATALOG_SF, INDEX_SF = 0.01, 0.01, 0.1
EXPECTED = os.path.join(HERE, "expected.json")
IVF_FUNCS = ("write_ivfpq_index", "append_ivfpq_index", "delete_ivfpq_index", "ivfpq_adc_topk")
BUILD_FUNCS = {"write_ivfpq_index"}
MUTATE_FUNCS = {"append_ivfpq_index", "delete_ivfpq_index"}


def catalog_entries() -> list[str]:
    from bench import HEADLINE

    return [n for n in HEADLINE if n not in LEFT_OUT] + STREAMING_ENTRIES


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_close(actual, expected) -> bool:
    a, e = sorted(map(tuple, actual)), sorted(map(tuple, expected))
    return len(a) == len(e) and all(
        len(x) == len(y) and all(close(u, v) for u, v in zip(x, y)) for x, y in zip(a, e)
    )


class Run:
    """Shared state of one workload run: session, tracer, op outcomes."""

    def __init__(self, spark, trace: bool, seed: int, seconds: float,
                 calibrator: Calibrator | None = None):
        self.spark = spark
        self.calibrator = calibrator or Calibrator()
        self.tracer = Tracer(spark, trace, self.calibrator)
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.window_s = 0.0  # wall time of the measured window
        self.bench_s = 0.0  # the benchmark's own checks inside the window

    @contextmanager
    def bench(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bench_s += time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def measured(self):
        return [o for o in self.tracer.ops if o.kind != "cold"]


# ---------------------------------------------------------------------------
# small_jobs: closed loop of lrmr-style pipeline jobs, one client thread
# ---------------------------------------------------------------------------

def small_jobs(run: Run, data: str) -> dict:
    from lrmr_spark.pipeline import Pipeline

    spark = run.spark
    events_path = os.path.join(data, "events.parquet")
    ev = pq.read_table(events_path, columns=["event_type", "value"]).to_pandas()
    rng = np.random.default_rng(run.seed)
    literals = [round(float(x), 2) for x in rng.uniform(0.0, 150.0, 16)]
    kv_sets = []
    for _ in range(8):
        keys = rng.integers(0, 50, 2000)
        vals = rng.integers(0, 1000, 2000)
        rows = [(f"k{k}", int(v)) for k, v in zip(keys, vals)]
        expect = {}
        for k, v in rows:
            expect[k] = expect.get(k, 0) + 2 * v
        kv_sets.append((rows, sorted(expect.items())))

    def expect_filtered(lit):
        sub = ev[ev["value"] > lit]
        g = sub.groupby("event_type")["value"]
        return sub, [(k, int(n), float(s)) for k, n, s in zip(g.count().index, g.count(), g.sum())]

    expected = {lit: expect_filtered(lit) for lit in literals}

    def double_value(pdf):
        return pdf.assign(value=pdf["value"] * 2)

    def parquet_job(op, lit):
        with op.span("call"):
            with op.span("load"):
                p = Pipeline.read(spark, "parquet", events_path)
            p = (
                p.filter(F.col("value") > F.lit(lit))
                .group_by_key("event_type")
                .reduce({"n": F.count(F.lit(1)), "total": F.sum("value")})
            )
        op.plan_df = p.df
        with op.span("action"):
            rows = p.run_and_collect().rows
        run.check(rows_close([(r["event_type"], r["n"], r["total"]) for r in rows], expected[lit][1]),
                  f"parquet_reduce lit={lit}")

    def arrow_job(op, i):
        rows_in, expect = kv_sets[i % len(kv_sets)]
        with op.span("call"):
            with op.span("load"):
                p = Pipeline.parallelize(spark, rows_in, "key string, value long")
            p = p.map(fn=double_value).group_by_key("key").reduce({"total": F.sum("value")})
        op.plan_df = p.df
        with op.span("action"):
            rows = p.run_and_collect().rows
        run.check(rows_close([(r["key"], r["total"]) for r in rows], expect), f"arrow_map i={i}")

    def background_job(op, lit):
        with op.span("call"):
            with op.span("load"):
                p = Pipeline.read(spark, "parquet", events_path)
            p = (
                p.filter(F.col("value") > F.lit(lit))
                .with_metric("rows_in")
                .group_by_key("event_type")
                .reduce({"n": F.count(F.lit(1)), "total": F.sum("value")})
            )
        op.plan_df = p.df
        with op.span("action"):
            handle = p.run_in_background()
            op.groups.append(handle.job_id)
            with op.span("wait"):
                handle.wait()
            metrics = handle.metrics()
            rows = handle.result().rows
        sub, exp = expected[lit]
        ok = (
            handle.status == "succeeded"
            and metrics.get("rows_in") == len(sub)
            and rows_close([(r["event_type"], r["n"], r["total"]) for r in rows], exp)
        )
        run.check(ok, f"background lit={lit}")

    shapes = [("parquet_reduce", parquet_job), ("arrow_map", arrow_job), ("background", background_job)]

    def one(kind, i):
        name, fn = shapes[i % 3]
        arg = i if name == "arrow_map" else literals[i % len(literals)]
        with run.tracer.op(kind, name) as op:
            try:
                fn(op, arg)
            except Exception as exc:  # a raised error counts as a failed op
                run.check(False, f"{name}: {exc!r}"[:300])

    # warm-up: compile paths and Python worker start-up are not what a
    # repeated small job pays
    for i in range(3 * WARMUP_CYCLES):
        one("cold", i)
    t0 = time.perf_counter()
    i = 0
    while i < 3 * CPU_CYCLES or i % 3 or time.perf_counter() - t0 < run.seconds:
        one("job", i)  # whole cycles only, so every shape weighs the same
        i += 1
    run.window_s = time.perf_counter() - t0
    ops = run.measured()
    cpu_ops = ops[: 3 * CPU_CYCLES]
    by_shape = {n: [o for o in cpu_ops if o.name == n] for n, _ in shapes}
    wall = {n: [o.wall for o in ops if o.name == n] for n, _ in shapes}
    layers = {
        "pipeline.call_s": _mean(o.spans.get("call", 0) - o.spans.get("load", 0) for o in ops),
        "sources.load_s": _mean(o.spans.get("load", 0) for o in ops),
        "job.detached_overhead_s": median(wall["background"]) - median(wall["parquet_reduce"]),
        "job.wait_s": _mean(o.spans.get("wait", 0) for o in ops if o.name == "background"),
    }
    details = {
        "literals": literals,
        "shape_cpu_s": {n: low_quartile([o.cpu for o in v]) for n, v in by_shape.items()},
        "shape_wall_p50_s": {n: median(v) for n, v in wall.items()},
    }
    return _summary(run, ops, cpu_ops, sum(details["shape_cpu_s"].values()),
                    sum(details["shape_wall_p50_s"].values()), layers, details)


# ---------------------------------------------------------------------------
# catalog_index, first half: the bench.py headline entries plus one
# streaming entry
# ---------------------------------------------------------------------------

def catalog_pass(run: Run, data: str) -> dict:
    """Each entry once in the fresh session: what a user running each entry
    once pays (bench.py's shape)."""
    spark = run.spark
    with run.bench():
        qs = queries()
        names = catalog_entries()
        with open(EXPECTED) as f:
            pinned = json.load(f)["catalog_mix"]
    fingerprints: dict[str, str] = {}

    for name in names:
        with run.tracer.op("entry", name) as op:
            try:
                with op.span("call"):
                    df = qs[name](spark, data)
                with op.span("action"):
                    op.plan_df = spark_fingerprint_df(df)
                    fp = collect_fingerprint(op.plan_df)
            except Exception as exc:
                run.check(False, f"{name}: {exc!r}"[:300])
                continue
        with run.bench():
            fingerprints[name] = fp
            run.check(fp == pinned.get(name), f"{name}: fingerprint {fp} != {pinned.get(name)}")
    ops = [o for o in run.tracer.ops if o.kind == "entry"]
    layers = {}
    for o in ops:
        layers[f"catalog.{o.name}.call_s"] = o.spans.get("call", 0.0)
        layers[f"catalog.{o.name}.action_s"] = o.spans.get("action", 0.0)
        layers[f"catalog.{o.name}.cpu_s"] = o.cpu
    layers["catalog.index_build_s"] = sum(
        layers[f"catalog.{n}.call_s"] for n in names if n in INDEX_LIFECYCLE_ENTRIES
    )
    return {"ops": ops, "layers": layers, "details": {"fingerprints": fingerprints}}


# ---------------------------------------------------------------------------
# catalog_index, second half: IVF-PQ stored-index writes and mutations with
# a serve loop between them
# ---------------------------------------------------------------------------

def _tree(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written_bytes(before: dict, after: dict) -> int:
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def _py_cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    return d / n if n else float("-inf")


class AdcOracle:
    """NumPy model of write_ivfpq_index + ivfpq_adc_topk (raw-vector PQ):
    cosine coarse assignment, first-min squared-L2 codes summed left to
    right, ADC lookup tables, top-k by (distance, id)."""

    def __init__(self, coarse, pqc, num_sub=8):
        self.coarse, self.pqc, self.num_sub = coarse, pqc, num_sub
        self.ids = np.zeros(0, dtype=np.int64)
        self.part = np.zeros(0, dtype=np.int64)
        self.codes = np.zeros((0, num_sub), dtype=np.int64)

    def add(self, ids, vecs):
        x = np.asarray(vecs, dtype=np.float32).astype(np.float64)
        c = np.asarray(self.coarse)
        cos = (x @ c.T) / (np.linalg.norm(x, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :])
        p = np.asarray(self.pqc)
        sub = x.shape[1] // self.num_sub
        codes = np.zeros((len(x), self.num_sub), dtype=np.int64)
        for s in range(self.num_sub):
            d = None
            for j in range(sub):
                diff = x[:, None, s * sub + j] - p[None, :, s * sub + j]
                d = diff * diff if d is None else d + diff * diff
            codes[:, s] = np.argmin(d, axis=1)
        keep = ~np.isin(np.asarray(ids), self.ids)  # first writer wins on id
        self.ids = np.concatenate([self.ids, np.asarray(ids)[keep]])
        self.part = np.concatenate([self.part, np.argmax(cos, axis=1)[keep]])
        self.codes = np.concatenate([self.codes, codes[keep]])

    def delete(self, ids) -> int:
        gone = np.isin(self.ids, np.asarray(ids))
        self.ids, self.part, self.codes = self.ids[~gone], self.part[~gone], self.codes[~gone]
        return int(gone.sum())

    def topk(self, q, k=10, n_probe=2):
        probes = sorted(range(len(self.coarse)), key=lambda i: -_py_cos(self.coarse[i], q))[:n_probe]
        sub = len(q) // self.num_sub
        lut = [
            [sum((q[s * sub + j] - 0.0 - c[s * sub + j]) ** 2 for j in range(sub)) for c in self.pqc]
            for s in range(self.num_sub)
        ]
        cand = np.isin(self.part, probes)
        ad = None
        for s in range(self.num_sub):
            term = np.asarray(lut[s])[self.codes[cand, s]]
            ad = term if ad is None else ad + term
        order = np.lexsort((self.ids[cand], ad))[:k]
        return [round(float(d), 5) for d in ad[order]]


def index_lifecycle(run: Run, data: str) -> dict:
    """write -> serve -> append -> serve -> delete -> serve; serve results
    are checked against ``AdcOracle``, append and delete counts against the
    live set."""
    from lrmr_spark import tables
    from lrmr_spark.operators import similarity as SIM

    spark = run.spark
    with run.bench():  # inputs: outside the ops, inside the measured window
        tmp = os.environ["TMPDIR"]
        ivf = os.path.join(tmp, "index_ivfpq")
        rng = np.random.default_rng(run.seed)

        emb_t = pq.read_table(os.path.join(data, "embeddings.parquet"),
                              columns=["vec_id", "embedding"])
        ids = emb_t["vec_id"].to_numpy()
        vecs = np.stack(emb_t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
        picks = rng.choice(len(ids), 8, replace=False)
        coarse = [[float(x) for x in vecs[i]] for i in picks]
        pqc = coarse[:4]
        new_ids = np.arange(10_000_000, 10_000_200, dtype=np.int64)
        new_vecs = rng.normal(0.0, 1.0, (200, vecs.shape[1]))
        new_vecs = (new_vecs / np.linalg.norm(new_vecs, axis=1, keepdims=True)).astype(np.float32)
        live = np.concatenate([ids, new_ids])
        takedown = sorted(int(i) for i in rng.choice(live, 150, replace=False))
        queries_ = rng.normal(0.0, 1.0, (64, vecs.shape[1]))
        queries_ = [[float(x) for x in q / np.linalg.norm(q)] for q in queries_]

        emb = tables.load(spark, data, "embeddings")
        new_df = spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(new_ids, new_vecs)],
            "vec_id long, embedding array<float>",
        )

        oracle = AdcOracle(coarse, pqc)
        written: dict[str, int] = {}
        qi = 0

    def call(func: str, path: str, fn, check=lambda out: True):
        """One lifecycle call; ``check`` judges its result afterwards,
        outside the op's clock (a raised error fails the op)."""
        with run.bench():
            before = _tree(path)
        with run.tracer.op("lifecycle", func) as op:
            try:
                with op.span("call"):
                    out = fn(op)
            except Exception as exc:
                run.check(False, f"{func}: {exc!r}"[:300])
                return None
        with run.bench():
            written[func] = written.get(func, 0) + _written_bytes(before, _tree(path))
            run.check(check(out), f"{func} returned {out!r}"[:300])
        return out

    cpu_ops = []  # the first SERVE_CPU_QUERIES of each serve phase: op_cpu_s

    def serve(budget: float):
        nonlocal qi
        t0 = time.perf_counter()
        n = 0
        while n < SERVE_CPU_QUERIES or time.perf_counter() - t0 < budget:
            q = queries_[qi % len(queries_)]
            qi += 1
            n += 1
            with run.tracer.op("serve", "ivfpq_adc_topk") as op:
                try:
                    with op.span("call"):
                        df = SIM.ivfpq_adc_topk(spark, ivf, q, coarse, pqc, k=10, n_probe=2)
                    op.plan_df = df
                    with op.span("action"):
                        rows = df.collect()
                except Exception as exc:
                    run.check(False, f"serve: {exc!r}"[:300])
                    continue
            if n <= SERVE_CPU_QUERIES:
                cpu_ops.append(op)
            with run.bench():
                got = sorted(r["adist"] for r in rows)
                run.check(rows_close([(d,) for d in got], [(d,) for d in oracle.topk(q)]),
                          f"serve q={qi}")

    budget = run.seconds / 3
    # serve results are checked against the oracle, so the IVF-PQ calls are
    # judged by the serve phase that follows each of them
    call("write_ivfpq_index", ivf, lambda op: SIM.write_ivfpq_index(emb, ivf, coarse, pqc, num_sub=8))
    with run.bench():
        oracle.add(ids, vecs)
    serve(budget)
    call("append_ivfpq_index", ivf, lambda op: SIM.append_ivfpq_index(new_df, ivf, coarse, pqc),
         lambda n: n == len(new_ids))
    with run.bench():
        oracle.add(new_ids, new_vecs)
    serve(budget)
    with run.bench():
        n_live = oracle.delete(takedown)
    call("delete_ivfpq_index", ivf, lambda op: SIM.delete_ivfpq_index(spark, ivf, takedown),
         lambda n: n == n_live)
    serve(budget)

    ops = run.measured()
    serve = [o for o in ops if o.kind == "serve"]
    calls = [o for o in ops if o.kind == "lifecycle"]
    funcs = {}
    for o in calls:
        funcs[o.name] = funcs.get(o.name, 0.0) + o.wall
    funcs["ivfpq_adc_topk"] = _mean(o.wall for o in serve)
    layers = {f"operators.{f}_s": funcs.get(f, 0.0) for f in IVF_FUNCS}
    layers["index.build_s"] = sum(funcs.get(f, 0.0) for f in BUILD_FUNCS)
    layers["index.mutate_s"] = sum(funcs.get(f, 0.0) for f in MUTATE_FUNCS)
    layers["index.bytes_written_mb"] = sum(
        v for f, v in written.items() if f in MUTATE_FUNCS) / 2**20
    index_bytes = sum(s for s, _ in _tree(ivf).values())
    layers["index.space_amp"] = index_bytes / os.path.getsize(os.path.join(data, "embeddings.parquet"))
    details = {
        "serve_queries": len(serve),
        "call_cpu_s": {o.name: o.cpu for o in calls},
        "bytes_written_mb": {f: v / 2**20 for f, v in written.items()},
    }
    return {"calls": calls, "serve": serve, "cpu_ops": cpu_ops, "layers": layers,
            "details": details}


def catalog_index(run: Run, data: dict[float, str]) -> dict:
    """The catalog pass at sf0.01, then the IVF-PQ lifecycle at sf0.1. The
    *pass* is every catalog entry and lifecycle call once; the *op* is a
    serve query."""
    t0 = time.perf_counter()
    cat = catalog_pass(run, data[CATALOG_SF])
    idx = index_lifecycle(run, data[INDEX_SF])
    run.window_s = time.perf_counter() - t0
    once = cat["ops"] + idx["calls"]
    details = {**cat["details"], **idx["details"],
               "catalog_cpu_s": sum(o.cpu for o in cat["ops"]),
               "lifecycle_cpu_s": sum(o.cpu for o in idx["calls"])}
    return _summary(run, idx["serve"], idx["cpu_ops"], sum(o.cpu for o in once),
                    sum(o.wall for o in once), {**cat["layers"], **idx["layers"]}, details)


# ---------------------------------------------------------------------------


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _summary(run: Run, ops: list, cpu_ops: list, pass_cpu: float, pass_wall: float,
             layers: dict, details: dict) -> dict:
    """The end-to-end metric before scaling to the reference speed: the CPU
    of the workload's *op*, the lower quartile over the fixed count of ops
    ``cpu_ops`` of each kind of op, averaged over the kinds. The CPU of one
    *pass* over the workload's distinct calls, each run once, is a per-layer
    metric: a single run of a call cannot be filtered, and a burst of host
    contention moved it by up to a fifth. The wall-clock view, over every
    measured op in ``ops``, goes to the per-layer metrics and the details."""
    lat = [o.wall for o in ops]
    pct, tail_v = tail(lat)
    by_name: dict[str, list[float]] = {}
    for o in cpu_ops:
        by_name.setdefault(o.name, []).append(o.cpu)
    e2e = {"op_cpu_s": _mean(low_quartile(v) for v in by_name.values())}
    layers = {
        **layers,
        "pass.cpu_s": pass_cpu,
        **{f"cpu.{p}_s": _mean(o.cpu_parts[p] for o in cpu_ops) for p in PARTS},
        "wall.op_p50_s": median(lat),
        "wall.pass_s": pass_wall,
    }
    details.update({"samples": len(lat), "wall_op_p50_s": median(lat), "tail_percentile": pct,
                    "tail_s": tail_v, "wall_pass_s": pass_wall, "window_s": run.window_s})
    return {"e2e": e2e, "layers": layers, "details": details}


def trace_layers(run: Run) -> dict:
    """Per-op means of the Spark counters over the measured ops, plus the
    reconciliation of the traced run's spans against wall time."""
    ops = run.measured()
    out = {}
    if not run.tracer.enabled:
        return out
    for k in ("jobs", "stages", "skipped_stages"):
        out[f"spark.{k}"] = _mean(o.counters[k] for o in ops)
    for p in PHASES:
        out[f"catalyst.{p}_ms"] = _mean(o.counters[f"{p}_ms"] for o in ops)
    for k in STAGE_COUNTERS:
        out[f"exec.{k}"] = _mean(o.counters[k] for o in ops)
    out["driver.residual_s"] = _mean(o.counters["residual_s"] for o in ops)
    # every op's wall splits into stage-covered time and driver residual,
    # and into its call and action spans; the ops plus the tracer's and the
    # benchmark's own bookkeeping must cover the measured window
    op_err = max(
        max(reconcile_error(o.wall, [o.counters["stage_cover_s"], o.counters["residual_s"]]),
            reconcile_error(o.wall, [o.spans.get("call", 0), o.spans.get("action", 0)]))
        for o in ops
    )
    covered = sum(o.wall + o.bookkeeping_s for o in ops) + run.bench_s
    window_err = reconcile_error(run.window_s, [covered])
    out["trace.reconcile_err"] = max(op_err, window_err)
    out["trace.overhead_s"] = _mean(o.bookkeeping_s for o in ops)
    return out


def layer_names() -> list[str]:
    """Every per-layer metric; a workload that does not reach a layer
    reports 0 for it."""
    names = ["session.start_s", "session.warmup_s", "pipeline.call_s", "sources.load_s",
             "job.detached_overhead_s", "job.wait_s"]
    names += [f"catalyst.{p}_ms" for p in PHASES]
    names += ["spark.jobs", "spark.stages", "spark.skipped_stages", "driver.residual_s"]
    names += [f"exec.{k}" for k in STAGE_COUNTERS]
    for n in catalog_entries():
        names += [f"catalog.{n}.call_s", f"catalog.{n}.action_s", f"catalog.{n}.cpu_s"]
    names.append("catalog.index_build_s")
    names += [f"operators.{f}_s" for f in IVF_FUNCS]
    names += ["index.build_s", "index.mutate_s", "index.bytes_written_mb", "index.space_amp"]
    names += [f"cpu.{p}_s" for p in PARTS] + ["pass.cpu_s", "wall.op_p50_s", "wall.pass_s"]
    names += ["mem.peak_rss_mb", "trace.reconcile_err", "trace.overhead_s", "trace.op_cpu_s"]
    return names


def host_steal_s() -> float:
    """Steal time of all virtual CPUs so far (/proc/stat), in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) * TICK_S


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python driver plus its JVM."""
    me = os.getpid()
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                comm = stat[stat.index("(") + 1: stat.rindex(")")]
                ppid = int(stat[stat.rindex(")") + 2:].split()[1])
                procs[int(pid)] = (ppid, comm)
            except (OSError, ValueError):
                continue
    tree, frontier = {me}, [me]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in procs.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    total = 0
    for pid in tree:
        if pid != me and procs.get(pid, (0, ""))[1] != "java":
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


WORKLOADS = {
    "small_jobs": (lambda run, data: small_jobs(run, data[SMALL_SF]), (SMALL_SF,)),
    "catalog_index": (catalog_index, (CATALOG_SF, INDEX_SF)),
}


def main() -> None:
    workload, seed, seconds, trace, run_root = sys.argv[1:6]
    fn, sfs = WORKLOADS[workload]
    phases = {"import_s": time.perf_counter() - T_START}
    t = time.perf_counter()
    data = {sf: datagen.write_tables(os.path.join(run_root, "data", f"sf{sf}"), sf) for sf in sfs}
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data[sfs[0]]

    setups, calibrator, spark = [], Calibrator(), None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        setups.append((t1 - t0, t2 - t1))
        calibrator.sample()
        if i == 0:
            first = setups[0]

    phases["setup_s"] = time.perf_counter() - t
    t = time.perf_counter()
    steal0 = host_steal_s()
    run = Run(spark, trace == "1", int(seed), float(seconds), calibrator)
    res = fn(run, data)
    phases["workload_s"] = time.perf_counter() - t
    # CPU time the host withheld from the virtual CPUs meanwhile
    phases["workload_steal_s"] = host_steal_s() - steal0
    layers = {
        **dict.fromkeys(layer_names(), 0.0),
        "session.start_s": first[0],
        "session.warmup_s": first[1],
        **res["layers"],
        **trace_layers(run),
    }
    # the host's speed over this run, against the reference host's
    cal = calibrator.speed_s()
    raw = {"setup_s": median([a + b for a, b in setups]), **res["e2e"]}
    e2e = {k: v * CAL_REF_S / cal for k, v in raw.items()}
    for k in layers:  # the CPU layers add up to op_cpu_s, so scale them alike
        if k.startswith("cpu.") or k.endswith(".cpu_s"):
            layers[k] *= CAL_REF_S / cal
    layers["mem.peak_rss_mb"] = peak_rss_mb()
    if run.tracer.enabled:  # compare with op_cpu_s of an untraced run: the tracing overhead
        layers["trace.op_cpu_s"] = e2e["op_cpu_s"]
    ok = run.failed == 0
    if run.tracer.enabled and layers["trace.reconcile_err"] > RECONCILE_TOLERANCE:
        ok = False
        run.errors.append(f"trace reconciliation error {layers['trace.reconcile_err']:.3f}")
    t = time.perf_counter()
    spark.stop()
    phases["stop_s"] = time.perf_counter() - t
    result = {
        "correct": ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "e2e": e2e,
        "layers": layers,
        "details": {**res["details"], "errors": run.errors[:20], "cal_s": cal,
                    "cal_cpu_s": {c: median(v) for c, v in calibrator.samples.items() if v},
                    "unscaled": raw,
                    "cpu_parts_s": {p: layers[f"cpu.{p}_s"] for p in PARTS},
                    "setups_s": [a + b for a, b in setups], "phases_s": phases},
    }
    with open(os.path.join(run_root, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
