#!/usr/bin/env python3
"""Compare the per-layer records of two benchmark runs.

    python3 perfbench/layerdiff.py BASE.json NEW.json

The records are the files ``run.py`` keeps in ``.perfbench/records/``
(``<workload>-s<seed>-t<trace>.json``); traced runs (``--trace 1``) carry
the per-layer metrics, every run carries the workload metrics. Each line
shows a metric's base value, new value, the delta and the delta as a share
of the base, and the end-to-end metrics it should move
(``layer_map.json``). Rows are sorted by the size of that share; rows that
are zero on both sides are left out.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def moves_of(name: str, rules: list[dict]) -> str:
    for rule in rules:
        if fnmatch.fnmatchcase(name, rule["metric"]):
            return ", ".join(rule["moves"])
    return ""


def rows(base: dict, new: dict, rules: list[dict]) -> list[tuple]:
    out = []
    for name in sorted(set(base) | set(new)):
        b, n = base.get(name), new.get(name)
        if b is None or n is None:
            out.append((float("inf"), name, b, n, None, None, moves_of(name, rules)))
            continue
        if b == 0 and n == 0:
            continue
        d = n - b
        share = d / abs(b) if b else (float("inf") if d else 0.0)
        out.append((abs(share), name, b, n, d, share, moves_of(name, rules)))
    out.sort(key=lambda r: (-r[0], r[1]))
    return out


def fmt(v) -> str:
    if v is None:
        return "-"
    if isinstance(v, float) and v != int(v):
        return f"{v:.4g}"
    return f"{v:g}" if isinstance(v, (int, float)) else str(v)


def print_table(title: str, table: list[tuple]) -> None:
    print(f"== {title}")
    if not table:
        print("(nothing to compare)")
        return
    w = max(len(r[1]) for r in table)
    print(f"{'metric':<{w}}  {'base':>12}  {'new':>12}  {'delta':>12}  {'share':>8}  moves")
    for _k, name, b, n, d, share, mv in table:
        sh = "-" if share is None else ("new" if share == float("inf") else f"{share:+.1%}")
        print(f"{name:<{w}}  {fmt(b):>12}  {fmt(n):>12}  {fmt(d):>12}  {sh:>8}  {mv}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args(argv)
    base, new = load(a.base), load(a.new)
    rules = load(os.path.join(HERE, "layer_map.json"))["per_layer"]
    for rec, path in ((base, a.base), (new, a.new)):
        m = rec.get("meta", {})
        print(f"{path}: workload={rec.get('workload')} seed={m.get('seed')} "
              f"trace={m.get('trace')} cycles={m.get('cycles')} "
              f"ambient_ratio={m.get('ambient_probe', {}).get('ambient_ratio')}")
    if base.get("workload") != new.get("workload"):
        print("warning: the records are of different workloads", file=sys.stderr)
    metrics = {k: v["value"] for k, v in base.get("metrics", {}).items()}
    metrics_new = {k: v["value"] for k, v in new.get("metrics", {}).items()}
    print_table("workload metrics", rows(metrics, metrics_new, rules))
    if "layers" in base and "layers" in new:
        print_table("per-layer metrics", rows(base["layers"], new["layers"], rules))
    else:
        print("== per-layer metrics: need two traced records (--trace 1)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
