"""One fresh benchmark process: session start, workload set-up, the timed
closed loop, untimed correctness checks, and (traced runs) the per-layer
record. Started by ``run.py``, which owns the run directory; writes its
findings to ``<run-dir>/result.json``.

In a traced run the loop alternates untraced and traced cycles. The
per-layer record comes from the traced cycles; the ratio of the two kinds'
median cycle times is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import proc, probe, trace  # noqa: E402
from perfbench.workloads import CURATION, WORKLOADS  # noqa: E402

OPS = ["append", "upsert", "lookup", "hist", "train"] + [
    f"curate.{family}" for _name, family in CURATION
]
ENGINE_FIELDS = (
    "jobs", "tasks", "exec_s", "task_cpu_ms", "core_util", "wait_ms",
    "shuffle_write_bytes", "spill_bytes",
)
SPAN_METRICS = (
    ("testdata", ("calls", "self_s", "jobs")),
    ("pipeline", ("self_s", "jobs")),
    ("pit_join", ("self_s",)),
    ("registry", ("self_s",)),
    ("snapshot", ("self_s",)),
    ("offline_store.append", ("self_s", "jobs")),
    ("offline_store.read", ("self_s",)),
    ("offline_store.exists", ("self_s",)),
    ("manifests", ("self_s", "calls")),
    ("fs", ("self_s", "calls")),
    ("store", ("self_s", "jobs")),
)


class Ctx:
    def __init__(self, a, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = a.seed
        self.run_dir = a.run_dir
        self.data_dir = os.path.join(a.run_dir, "data")
        self.errors: list[tuple] = []
        #: job-group prefix: set-up and the untraced cycles of a traced run
        #: get their own groups, so engine metrics cover traced cycles only
        self.group_prefix = "setup:"


def session(a, tracer):
    from aqi_featurestore_spark import session as session_mod

    local = os.path.join(a.run_dir, "local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(a.run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={a.run_dir}",
    }
    if a.trace:
        log_dir = os.path.join(a.run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = session_mod.get_spark("perfbench", master=f"local[{a.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def loop(wl, ctx, seconds: float, cpu_root: int, traced: bool):
    """Closed loop: cycles back to back for ``seconds``. A cycle starts
    only while at least half of a median cycle is left, so the window
    ends within half a cycle of ``seconds`` on either side.

    With ``traced`` the cycles alternate, untraced first: an untraced cycle
    runs with the span wrappers off and its operations under ``base:`` job
    groups; the traced cycles give the per-layer record. The loop then runs
    at least three cycles (untraced, traced, untraced), so the untraced
    cycles bracket a traced one in time. Returns ``{False: untraced, True:
    traced}``, each ``(cycles, cpu, rss, samples)``."""
    runs = {False: ([], [], [], {}), True: ([], [], [], {})}
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    while (len(walls) < 1 + 2 * traced
           or time.perf_counter() + statistics.median(walls) / 2 <= t_end):
        on = traced and len(walls) % 2 == 1
        ctx.tracer.enabled = on
        ctx.group_prefix = "base:" if traced and not on else ""
        cycles, cpu, rss, samples = runs[on]
        wl.prepare()
        c0 = proc.cpu_seconds(cpu_root)
        ops = wl.cycle()
        cycles.append(sum(dt for _op, dt, _ok in ops))
        cpu.append(proc.cpu_seconds(cpu_root) - c0)
        rss.append(proc.rss_bytes(cpu_root))
        walls.append(cycles[-1])
        for op, dt, ok in ops:
            samples.setdefault(op, []).append((dt, ok))
    ctx.tracer.enabled = False
    return runs


def per_layer(tracer, events, phase, n_cycles, op_counts, all_counts, stats, boot_window, cores):
    jobs = trace.job_submissions(events)
    spans = tracer.layer_stats(phase[0], phase[1], jobs)
    out: dict[str, float] = {}
    for layer, fields in SPAN_METRICS:
        st = spans.get(layer, {})
        for f in fields:
            out[f"{layer}.{f}"] = st.get(f, 0) / n_cycles
    setup_spans = tracer.layer_stats(0.0, phase[0], jobs)
    out["session.start_s"] = setup_spans.get("session", {}).get("self_s", 0.0)
    for _name, family in CURATION:
        st = spans.get(f"plans.construct.{family}", {})
        n = max(1, op_counts.get(f"curate.{family}", 0))
        out[f"plans.construct_s.{family}"] = st.get("self_s", 0.0) / n
        out[f"plans.construct_jobs.{family}"] = st.get("jobs", 0) / n
    boot = tracer.layer_stats(boot_window[0], boot_window[1], jobs) if boot_window else {}
    out["plans.bootstrap_s"] = sum(
        v["self_s"] for k, v in boot.items() if k.startswith("plans.construct.")
    )
    out["plans.bootstrap_jobs"] = sum(
        v["jobs"] for k, v in boot.items() if k.startswith("plans.construct.")
    )
    # store counters accumulate over the whole loop, traced cycles or not
    n_append = max(1, all_counts.get("append", 0))
    for k in ("rows_offered", "rows_kept", "files_written", "bytes_written"):
        out[f"offline_store.{k}"] = stats.get(k, 0) / n_append
    out["offline_store.keep_ratio"] = stats.get("keep_ratio", 0.0)
    out["store.online_bytes_rewritten"] = stats.get("online_bytes_rewritten", 0) / max(
        1, all_counts.get("upsert", 0)
    )
    eng = trace.engine_metrics(events, cores)
    for op in OPS:
        g = eng.get(op, {})
        n = op_counts.get(op, 0)
        for f in ENGINE_FIELDS + (("python_ms", "arrow_bytes") if op.startswith("curate.") else ()):
            v = g.get(f, 0)
            out[f"engine.{op}.{f}"] = v if f == "core_util" or not n else v / n
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall time the process was spawned")
    a = ap.parse_args()

    marks = {"imported": time.time() - a.t0}
    tracer = trace.Tracer()
    if a.trace:
        tracer.install()
    spark = session(a, tracer)
    marks["session"] = time.time() - a.t0
    ctx = Ctx(a, spark, tracer)
    wl = WORKLOADS[a.workload](ctx)
    wl.setup()
    t_first = time.time()
    marks["workload_setup"] = t_first - a.t0
    setup_s = t_first - a.t0

    phase0 = time.time()
    runs = loop(wl, ctx, a.seconds, os.getpid(), bool(a.trace))
    phase = (phase0, time.time())
    cycles, cpu, rss, samples = runs[bool(a.trace)]
    base = runs[False] if a.trace else None

    marks["loop"] = time.time() - a.t0
    bad = wl.check()
    marks["check"] = time.time() - a.t0
    stats = wl.stats()
    all_samples = {op: list(xs) for op, xs in samples.items()}
    if base is not None:
        for op, xs in base[3].items():
            all_samples.setdefault(op, []).extend(xs)
    attempted = sum(len(xs) for xs in all_samples.values())
    failed = sum(1 for xs in all_samples.values() for _dt, ok in xs if not ok)
    failed += sum(bad.values())
    spark.sparkContext.setJobGroup("probe", "probe")
    ambient = probe.reading(spark)
    marks["probe"] = time.time() - a.t0
    result = {
        "workload": a.workload,
        "seed": a.seed,
        "setup_s": setup_s,
        "cycles": cycles,
        "cycle_cpu_s": cpu,
        "cycle_rss_bytes": rss,
        "samples": {op: [dt for dt, _ok in xs] for op, xs in samples.items()},
        "attempted": attempted,
        "failed": failed,
        "wrong": bad,
        "errors": ctx.errors[:20],
        "stats": stats,
        "meta": {
            "master": spark.sparkContext.master,
            "spark_version": spark.version,
            "ambient_probe": ambient,
            "marks_s": marks,  # seconds from spawn to the end of each phase
        },
    }
    op_counts = {op: len(xs) for op, xs in samples.items()}
    spark.stop()  # flushes and closes the event log
    if a.trace:
        events = trace.read_event_log(os.path.join(a.run_dir, "eventlog"))
        layers = per_layer(
            tracer, events, phase, len(cycles), op_counts,
            {op: len(xs) for op, xs in all_samples.items()}, stats,
            getattr(wl, "boot_window", None), a.cores,
        )
        layers["trace.overhead_frac"] = (
            statistics.median(cycles) / statistics.median(base[0]) - 1.0
        )
        result["layers"] = layers
        result["untraced_cycles"] = base[0]
    with open(os.path.join(a.run_dir, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
