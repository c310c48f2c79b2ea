"""Per-layer tracing for the benchmark's traced runs.

Two sources, both kept in memory and reduced once the run ends:

* **Module spans.** ``Tracer.install()`` wraps the public functions and
  methods of the package's layer modules (``LAYERS``) from outside the
  package, and rebinds every ``from x import f`` alias of a wrapped
  function in the package's loaded modules, so calls through either name
  are seen. A span is (layer, start, end, parent); a layer's self time is
  its duration minus the time its child spans cover. Spark jobs are
  attributed to the innermost span open at their submission time, which is
  exact because the benchmark drives the engine from one client thread.
* **Engine metrics.** An uncompressed local Spark event log (it works with
  ``spark.ui.enabled=false``). Each benchmark operation runs under its own
  Spark job group; ``engine_metrics`` folds the task-end events of each
  group into jobs, tasks, busy wall time, task CPU, core utilisation,
  scheduler wait, shuffle and spill bytes, and Python-worker time and
  Arrow bytes from the SQL metrics.
"""

from __future__ import annotations

import bisect
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict

PKG = "aqi_featurestore_spark"

#: (layer, module, class or None, names or None = every public callable).
#: ``offline_store`` is split by method so append, read and exists get
#: their own self time.
LAYERS = (
    ("session", "session", None, ("get_spark",)),
    ("testdata", "sources.testdata", None, None),
    ("pipeline", "pipeline", None, None),
    ("pit_join", "operators.pit_join", None, None),
    ("registry", "registry", "Registry", None),
    ("snapshot", "operators.snapshot", None, None),
    ("offline_store.append", "sources.offline_store", "OfflineStore", ("append",)),
    ("offline_store.read", "sources.offline_store", "OfflineStore", ("read",)),
    ("offline_store.exists", "sources.offline_store", "OfflineStore", ("exists",)),
    ("manifests", "sources.manifests", "SnapshotManifests", None),
    ("fs", "sources.fs", None, None),
    ("store", "store", "FeatureStore", None),
)


def _public(obj, names):
    for name, val in vars(obj).items():
        if names is not None and name not in names:
            continue
        if names is None and name.startswith("_") and name != "__init__":
            continue
        if inspect.isfunction(val):
            yield name, val


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [layer, start, end, parent index]
        self._stack: list[int] = []
        self.enabled = False

    # -- spans ---------------------------------------------------------------

    def span(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span (no-op wrapper while disabled)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        rec = [layer, time.time(), None, self._stack[-1] if self._stack else -1]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            return fn(*args, **kwargs)
        finally:
            rec[2] = time.time()
            self._stack.pop()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(layer, fn, *args, **kwargs)

        traced.__perfbench_orig__ = fn
        return traced

    def install(self) -> None:
        """Wrap every layer callable, wherever it is bound."""
        swaps: dict[int, object] = {}
        for layer, mod_name, cls_name, names in LAYERS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner = getattr(mod, cls_name) if cls_name else mod
            for name, fn in list(_public(owner, names)):
                if getattr(fn, "__module__", None) != mod.__name__:
                    continue  # imported into this module, wrapped at its home
                wrapped = self._wrap(layer, fn)
                setattr(owner, name, wrapped)
                swaps[id(fn)] = wrapped
        # ``from x import f`` copies: rebind them wherever they were bound.
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                w = swaps.get(id(val))
                if w is not None and getattr(w, "__perfbench_orig__", None) is val:
                    setattr(mod, attr, w)
        self.enabled = True

    # -- reduction -------------------------------------------------------------

    def layer_stats(self, t_lo: float, t_hi: float, job_times: list[float]) -> dict:
        """Per-layer ``{self_s, calls, jobs}`` over spans that start in
        ``[t_lo, t_hi)``; ``job_times`` are job submission times (s)."""
        spans = self.spans
        child = defaultdict(float)
        for s in spans:
            if s[3] >= 0 and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, dict] = defaultdict(lambda: {"self_s": 0.0, "calls": 0, "jobs": 0})
        for i, s in enumerate(spans):
            if s[2] is None or not (t_lo <= s[1] < t_hi):
                continue
            st = out[s[0]]
            st["calls"] += 1
            st["self_s"] += (s[2] - s[1]) - child[i]
        # innermost open span at each job's submission: spans nest, so the
        # last-started span that still covers t is the innermost one.
        starts = [s[1] for s in spans]
        for t in job_times:
            if not (t_lo <= t < t_hi):
                continue
            i = bisect.bisect_right(starts, t) - 1
            while i >= 0 and not (spans[i][2] is not None and spans[i][2] >= t):
                i = spans[i][3]
            if i >= 0:
                out[spans[i][0]]["jobs"] += 1
        return dict(out)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        pass  # a torn last line of an in-progress log
    return events


def job_submissions(events: list[dict]) -> list[float]:
    return sorted(
        e["Submission Time"] / 1000.0
        for e in events
        if e.get("Event") == "SparkListenerJobStart" and "Submission Time" in e
    )


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def engine_metrics(events: list[dict], cores: int) -> dict[str, dict]:
    """Per job group: jobs, tasks, exec_s (union of job wall intervals),
    task_cpu_ms, core_util, wait_ms, shuffle_write_bytes, spill_bytes,
    python_ms, arrow_bytes."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
            job_group[e["Job ID"]] = g
            job_span[e["Job ID"]] = [e["Submission Time"], None]
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"]
    acc: dict[str, dict] = defaultdict(
        lambda: dict(
            jobs=0, tasks=0, run_ms=0, task_cpu_ms=0.0, wait_ms=0,
            shuffle_write_bytes=0, spill_bytes=0, python_ms=0, arrow_bytes=0,
            intervals=[],
        )
    )
    for jid, g in job_group.items():
        a = acc[g]
        a["jobs"] += 1
        lo, hi = job_span[jid]
        if hi is not None:
            a["intervals"].append((lo, hi))
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(e.get("Stage ID"), "untagged")
        a = acc[g]
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        a["tasks"] += 1
        run = m.get("Executor Run Time", 0)
        deser = m.get("Executor Deserialize Time", 0)
        a["run_ms"] += run
        a["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        total = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        getting = info.get("Getting Result Time", 0)
        getting = info.get("Finish Time", 0) - getting if getting else 0
        sched = max(0, total - run - deser - m.get("Result Serialization Time", 0) - getting)
        a["wait_ms"] += sched + deser
        a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for u in info.get("Accumulables", []):
            name, upd = u.get("Name"), u.get("Update")
            if not isinstance(upd, (int, float)):
                try:
                    upd = int(upd)
                except (TypeError, ValueError):
                    continue
            if name == PY_TIME:
                a["python_ms"] += upd
            elif name in (PY_SENT, PY_RETURNED):
                a["arrow_bytes"] += upd
    out = {}
    for g, a in acc.items():
        wall = _union_ms(a.pop("intervals"))
        a["exec_s"] = wall / 1000.0
        a["core_util"] = a["run_ms"] / (wall * cores) if wall else 0.0
        out[g] = a
    return out
