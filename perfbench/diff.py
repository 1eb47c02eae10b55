#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/diff.py BASE CHANGE [--benchmark BENCHMARK.json]

BASE and CHANGE are directories of run artifacts (the *.json files
run.py keeps under .bench_build/artifacts/). For every workload and
end-to-end metric it prints both sides' medians and quartiles, the
pair wins of the change (runs paired by seed), and the verdict of
benchstats.verdict against the metric's bound. For the traced runs it
prints every per-layer metric whose median moved, largest move first,
so a regression names its layer.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from benchstats import median, pair_wins, quartiles, verdict  # noqa: E402


def load(d):
    """{(workload, trace): {seed: metrics}}"""
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            art = json.load(fh)
        if "result" not in art:
            continue
        key = (art["workload"], bool(art["trace"]))
        runs.setdefault(key, {})[art["seed"]] = art["result"]["metrics"]
    return runs


def paired(base, change, name):
    """Values of one metric on both sides, paired by seed when the two
    sets share seeds, else in run order; runs lacking it are left out."""
    base = {s: m for s, m in base.items() if name in m}
    change = {s: m for s, m in change.items() if name in m}
    seeds = sorted(set(base) & set(change))
    if seeds:
        return [base[s][name]["value"] for s in seeds], [change[s][name]["value"] for s in seeds]
    return ([m[name]["value"] for m in base.values()],
            [m[name]["value"] for m in change.values()])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layers = {m["name"]: m for m in spec["per_layer"]}
    base, change = load(a.base), load(a.change)

    print(f"{'workload':18} {'metric':16} {'base med [q1,q3]':>28} "
          f"{'change med [q1,q3]':>28} {'wins/losses/ties':>17}  verdict")
    for (wl, traced) in sorted(base):
        if traced or (wl, traced) not in change:
            continue
        b, c = base[(wl, False)], change[(wl, False)]
        for name, m in e2e.items():
            bv, cv = paired(b, c, name)
            if not bv or not cv:
                continue
            bq, cq = quartiles(bv), quartiles(cv)
            w, l, t = pair_wins(bv, cv, m["better"])
            v = verdict(bv, cv, m["better"], m["bound"])
            print(f"{wl:18} {name:16} {bq[1]:12.4g} [{bq[0]:.4g},{bq[2]:.4g}]"
                  f" {cq[1]:12.4g} [{cq[0]:.4g},{cq[2]:.4g}] {w:>7}/{l}/{t}  {v}")

    for (wl, traced) in sorted(base):
        if not traced or (wl, traced) not in change:
            continue
        b, c = base[(wl, True)], change[(wl, True)]
        rows = []
        for name, m in layers.items():
            bv, cv = paired(b, c, name)
            if not bv or not cv:
                continue
            mb, mc = median(bv), median(cv)
            if mb != mc:
                rows.append((abs(mc - mb) / abs(mb) if mb else float("inf"), name, m, mb, mc))
        print(f"\n{wl}: per-layer medians that moved "
              f"({len(b)} base / {len(c)} change traced runs)")
        for share, name, m, mb, mc in sorted(rows, key=lambda r: -r[0]):
            sign = "+" if mc > mb else "-"
            print(f"  {name:34} {mb:12.4g} -> {mc:<12.4g} {m['unit']:6} "
                  f"{sign}{share * 100:.1f}%")


if __name__ == "__main__":
    main()
