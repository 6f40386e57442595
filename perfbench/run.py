"""Benchmark entry point.

    python3 perfbench/run.py --workload small_jobs --seed 1 --seconds 3 --trace 0

Runs one workload (see README.md) in a child process with a fresh run root
under the checkout, prints a details line, then as the last line one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The run root is removed afterwards, so a run leaves no file
behind. Exits non-zero without a result line when the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 170


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def host_env(run_root: str) -> dict[str, str]:
    """Environment of the benchmarked process: every scratch location the
    program writes to sits in ``run_root``, and the session is sized to
    this host (cores from the affinity mask, a quarter of RAM, at most 4g,
    for the driver)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_gb = max(1, min(4, mem_kb // 4 // 2**20))
    dirs = {name: os.path.join(run_root, name) for name in ("local", "tmp", "jobs", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        LRMR_SPARK_JOB_DIR=dirs["jobs"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=ROOT,
        # JVM scratch (native-library extraction, perf data) stays in the run root too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    return env


def result_line(spec: dict, res: dict, trace: int) -> dict:
    """The last output line: the end-to-end metrics, or with tracing the
    per-layer ones, each with the unit BENCHMARK.json gives it."""
    group = spec["per_layer"] if trace else spec["end_to_end"]
    values = res["layers"] if trace else res["e2e"]
    missing = [m["name"] for m in group if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics missing from the run: {missing}")
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in group},
    }


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()  # reap the worker so only its orphans keep the group alive
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    run_root = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    try:
        env = host_env(run_root)
        load_before = os.getloadavg()
        log_path = os.path.join(run_root, "worker.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
                 str(args.seed), str(args.seconds), str(args.trace), run_root],
                cwd=run_root, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(proc)
        result_path = os.path.join(run_root, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write(f"\nworker failed: exit {code}\n")
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    line = result_line(spec, res, args.trace)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": env["SPARK_GRAFT_CPUS"],
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        **res["details"],
    }
    if args.trace:
        details["end_to_end_traced"] = res["e2e"]
    print(json.dumps({"details": details}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
