#!/usr/bin/env python3
"""Feature-store benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload store --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads (see ``BENCHMARK.json`` and
``perfbench/README.md``): ``store`` and ``curation``.

The run generates its inputs from ``--seed`` into a private run directory
under ``.perfbench/runs/`` (also its Spark local dir, warehouse, temp dir
and event log), starts one fresh benchmark process (``worker.py``) that
sets up and then drives the package in a closed loop for ``--seconds``,
checks every output, and removes the run directory at exit. Directories
left by a killed run are removed by the next run.

Output: a detail line with every workload metric, the run metadata and the
correctness verdict, then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The same
record is kept in ``.perfbench/records/`` for ``layerdiff.py``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

TIMEOUT_S = 170
DRIVER_MEM = "1g"


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def cpu_ticks() -> list[int]:
    """Machine-wide CPU tick counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale(runs: str) -> list[str]:
    """Remove run directories whose owning process is gone."""
    removed = []
    for name in os.listdir(runs) if os.path.isdir(runs) else ():
        try:
            pid = int(name.split("-")[1])
        except (IndexError, ValueError):
            pid = -1
        if pid <= 0 or not _alive(pid):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
            removed.append(name)
    return removed


def _die_with_parent() -> None:
    os.setsid()
    try:
        ctypes.CDLL("libc.so.6").prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def run_worker(a, root: str, run_dir: str, cores: int) -> tuple[dict | None, int, str]:
    """Run worker.py to completion; (result, peak tree RSS bytes, stderr tail)."""
    from perfbench import proc

    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TZ="UTC",
        # every JVM (the spark-submit launcher too): temp files in the run
        # directory, no hsperfdata files in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    )
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    err_path = os.path.join(run_dir, "worker.log")
    t0 = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir, "--cores", str(cores),
        "--t0", repr(t0),
    ]
    peak, seen = 0, set()
    with open(err_path, "w") as err:
        child = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=err, stderr=subprocess.STDOUT,
            preexec_fn=_die_with_parent,
        )
        try:
            while child.poll() is None:
                seen |= proc.identities(child.pid)
                peak = max(peak, proc.rss_bytes(child.pid))
                if time.time() - t0 > TIMEOUT_S:
                    break
                time.sleep(0.2)
        finally:
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            child.wait()
            # Python workers leave the process group (PySpark's daemon makes
            # its own): stop every process the run started, then wait for it
            for _ in range(100):
                left = [i for i in seen if proc.alive(i)]
                if not left:
                    break
                for pid, _start in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                time.sleep(0.1)
    with open(err_path, errors="replace") as f:
        log_tail = f.read()[-4000:]
    res_path = os.path.join(run_dir, "result.json")
    if child.returncode != 0 or not os.path.exists(res_path):
        return None, peak, log_tail
    with open(res_path) as f:
        return json.load(f), peak, log_tail


def workload_metrics(r: dict, peak: int) -> dict:
    """Every metric of the workload, by name: (value, unit)."""
    s = r["samples"]
    out = {
        "setup_s": (r["setup_s"], "s"),
        "cycle_p50_s": (statistics.median(r["cycles"]), "s"),
        "cycle_cpu_s": (statistics.median(r["cycle_cpu_s"]), "s"),
        "rss_mb": (statistics.median(r["cycle_rss_bytes"]) / 2**20, "MB"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "failed_frac": (r["failed"] / r["attempted"], "frac"),
    }

    for op, scale, unit in (
        ("append", 1, "s"), ("upsert", 1, "s"), ("lookup", 1000, "ms"),
        ("hist", 1, "s"), ("train", 1, "s"),
    ):
        xs = s.get(op)
        if not xs:
            continue
        out[f"{op}_p50_{unit}"] = (statistics.median(xs) * scale, unit)
        t = tail(xs)
        if t:
            out[f"{op}_tail_{unit}"] = (t[0] * scale, unit)
            out[f"{op}_tail_pct"] = (t[1], "pct")
    if "append" in s:
        st = r["stats"]
        write_s = sum(s["append"]) + sum(s["upsert"])
        out["ingest_rows_per_s"] = (st["rows_offered"] / write_s, "1/s")
        out["store_bytes_per_row"] = (st["store_bytes"] / max(1, st["store_rows"]), "B")
    if any(op.startswith("curate.") for op in s):
        out["curate_pass_p50_s"] = out["cycle_p50_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="feature-store benchmark (one run)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aqi_featurestore_spark", "__init__.py")):
        print("perfbench: run from the repository root (aqi_featurestore_spark/ not found)",
              file=sys.stderr)
        return 2
    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # two task threads: the operations are driver- and job-overhead bound,
    # and on a shared 4-vCPU machine four busy threads mostly buy CPU steal
    cores = min(2, os.cpu_count() or 1)
    base = os.path.join(root, ".perfbench")
    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    stale = sweep_stale(runs)
    run_dir = os.path.join(runs, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)

    def _term(signum, _frame):
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, _term)
    cpu0 = cpu_ticks()
    try:
        rows = gen.generate(os.path.join(run_dir, "data"), a.seed)
        r, peak, log_tail = run_worker(a, root, run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ticks = [y - x for x, y in zip(cpu0, cpu_ticks())]
    if r is None:
        print(log_tail, file=sys.stderr)
        print("perfbench: the benchmark process failed", file=sys.stderr)
        return 1

    wm = workload_metrics(r, peak)
    counts = {op: len(xs) for op, xs in r["samples"].items()}
    detail = {
        "workload": a.workload,
        "correct": r["failed"] == 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in wm.items()},
        "meta": {
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            **r["meta"],
            "cycles": len(r["cycles"]),
            "samples_per_op": counts,
            "cycle_s": r["cycles"],
            "cycle_cpu_s": r["cycle_cpu_s"],
            "op_s": r["samples"],
            "tail_rule": "highest percentile with >= 10 samples beyond it",
            "input_rows": rows,
            "stale_runs_removed": len(stale),
            # CPU time the hypervisor gave to other guests during the run:
            # context for wall-time outliers on a shared machine
            "steal_frac": ticks[7] / max(1, sum(ticks)),
            "wrong": r["wrong"],
            "errors": r["errors"],
            "stats": r["stats"],
        },
    }
    if a.trace:
        detail["layers"] = r["layers"]
        detail["meta"]["untraced_cycle_p50_s"] = statistics.median(r["untraced_cycles"])
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        metrics = {m["name"]: {"value": r["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": wm[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
