#!/usr/bin/env python3
"""Noise-aware diff of two sets of benchmark runs.

    python3 perfbench/compare.py <parent_runs> <change_runs>

Each argument is a directory searched recursively for ``artifact.json``
files that ``run.py`` wrote (one per run). Untraced runs are compared
metric by metric for every workload and end-to-end metric in
BENCHMARK.json: each side's median and quartiles, the pairs the change
won (runs paired by seed), and a verdict of improved, worse, unchanged or
unresolved by the rules in ``metrics.verdict``. When both sides have
traced runs, the per-layer medians are listed too, so a gain can be
traced to the layer that moved. Exits 1 if any verdict is ``worse``.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def load(top):
    """{(workload, trace): {seed: artifact}}"""
    runs = {}
    for path in glob.glob(os.path.join(top, "**", "artifact.json"), recursive=True):
        with open(path) as f:
            a = json.load(f)
        runs.setdefault((a["workload"], a["trace"]), {})[a["seed"]] = a
    return runs


def paired(parent, change):
    """Values of both sides, paired by seed where the seeds match, else by
    sorted order."""
    common = sorted(set(parent) & set(change))
    if len(common) >= 2:
        return [parent[s] for s in common], [change[s] for s in common]
    n = min(len(parent), len(change))
    return ([parent[s] for s in sorted(parent)][:n],
            [change[s] for s in sorted(change)][:n])


def compare(parent_runs, change_runs, bench):
    rows = []
    for m in bench["end_to_end"]:
        for wl in (w["name"] for w in bench["workloads"]):
            p = parent_runs.get((wl, 0), {})
            c = change_runs.get((wl, 0), {})
            ps, cs = paired(p, c)
            pv = [a["end_to_end"][m["name"]] for a in ps]
            cv = [a["end_to_end"][m["name"]] for a in cs]
            if len(pv) < 2:
                rows.append((wl, m["name"], "missing", {}))
                continue
            v, d = M.verdict(pv, cv, m["bound"], m["better"])
            pq1, _, pq3, _ = M.iqr_spread(pv)
            cq1, _, cq3, _ = M.iqr_spread(cv)
            d.update(parent_q=(pq1, pq3), change_q=(cq1, cq3), unit=m["unit"],
                     bound=m["bound"])
            rows.append((wl, m["name"], v, d))
    return rows


def layer_rows(parent_runs, change_runs, bench):
    rows = []
    for wl in (w["name"] for w in bench["workloads"]):
        p = list(parent_runs.get((wl, 1), {}).values())
        c = list(change_runs.get((wl, 1), {}).values())
        if not p or not c:
            continue
        for m in bench["per_layer"]:
            pv = [a["per_layer"][m["name"]] for a in p if m["name"] in a["per_layer"]]
            cv = [a["per_layer"][m["name"]] for a in c if m["name"] in a["per_layer"]]
            if pv and cv:
                rows.append((wl, m["name"], statistics.median(pv),
                             statistics.median(cv), m["unit"]))
    return rows


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    rows = compare(parent, change, bench)
    def quartiles(med, q):
        return f"{med:.4g} [{q[0]:.4g}, {q[1]:.4g}]"
    print(f"{'workload':15s} {'metric':17s} {'parent median [q1, q3]':>28s} "
          f"{'change median [q1, q3]':>28s} {'won':>6s}  verdict")
    for wl, name, v, d in rows:
        if not d:
            print(f"{wl:15s} {name:17s} {'fewer than 2 runs on a side':>57s}  {v}")
            continue
        print(f"{wl:15s} {name:17s} {quartiles(d['parent_median'], d['parent_q']):>28s} "
              f"{quartiles(d['change_median'], d['change_q']):>28s} "
              f"{d['wins']:>3d}/{d['pairs']:<2d}  {v} ({d['unit']}, bound {d['bound']:.0%}, "
              f"spread {d['parent_spread']:.1%} / {d['change_spread']:.1%})")
    lrows = layer_rows(parent, change, bench)
    if lrows:
        print(f"\n{'workload':15s} {'layer metric':32s} {'parent':>14s} {'change':>14s}  ratio")
        for wl, name, pm, cm, unit in lrows:
            ratio = f"{cm / pm:.3f}" if pm else "-"
            print(f"{wl:15s} {name:32s} {pm:14.6g} {cm:14.6g}  {ratio} ({unit})")
    sys.exit(1 if any(v == "worse" for _, _, v, _ in rows) else 0)


if __name__ == "__main__":
    main()
