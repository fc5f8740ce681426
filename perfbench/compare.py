#!/usr/bin/env python3
"""Compares two sets of benchmark records: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RECORDS CHANGE_RECORDS

Each argument is a directory of records as perfbench/run.py writes them
(.bench_build/records in a checkout). For every workload and end-to-end
metric of the untraced records it prints each side's median and
quartiles, the paired wins, and a verdict:
  improved    the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread;
  unresolved  not every change run reads better than every parent run,
              and either side's runs spread wider than the metric's
              bound or, for a wall-time metric, the two sides
              ran under different host load: their median CPU steal
              (recorded per run) differs by more than STEAL_GAP;
  worse       the change's median is worse than the parent's by more than
              the bound;
  unchanged   otherwise.
Runs pair by seed, in the order they were made. The traced records are
then diffed layer by layer: per-layer metric medians and span self times.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# Largest difference in median CPU steal share between the two sides for
# which their wall times are still compared: other tenants' load slows
# every wall time of a run, and steal is the part of it the guest sees.
STEAL_GAP = 0.03


def load(d):
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound, load_differs=False):
    """Verdict for one metric given paired run values (lists of equal
    length); `load_differs` when the sides ran under different host load."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if wins >= 0.9 * len(parent) and sign * (cm - pm) > p3 - p1:
        return "improved", wins
    c1, _, c3 = quartiles(change)
    wide = any(m and (q3 - q1) / abs(m) > bound for q1, m, q3 in [(p1, pm, p3), (c1, cm, c3)])
    if (load_differs or wide) and not all_better:
        return "unresolved", wins
    if pm and sign * (cm - pm) < -bound * abs(pm):
        return "worse", wins
    return "unchanged", wins


def paired(parent, change, workload, trace):
    def by_seed(recs):
        out = {}
        for r in recs:
            if r["workload"] == workload and r["trace"] == trace:
                out.setdefault(r["seed"], []).append(r)
        return out
    p, c = by_seed(parent), by_seed(change)
    pairs = []
    for seed in sorted(set(p) & set(c)):
        pairs += list(zip(p[seed], c[seed]))
    return pairs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = [w["name"] for w in bench["workloads"]]
    print(f"{'workload':9s} {'metric':14s} {'parent median [q1, q3]':34s} "
          f"{'change median [q1, q3]':34s} {'wins':>6s}  verdict")
    for w in workloads:
        pairs = paired(parent, change, w, 0)
        if not pairs:
            print(f"{w:9s} (no paired untraced runs)")
            continue
        steal = [statistics.median(r[i]["host"]["steal_share"] or 0.0 for r in pairs)
                 for i in (0, 1)]
        load_differs = abs(steal[0] - steal[1]) > STEAL_GAP
        print(f"{w:9s} median CPU steal: parent {steal[0]:.3f}, change {steal[1]:.3f}"
              + (" (differs: wall times unresolved)" if load_differs else ""))
        for m in bench["end_to_end"]:
            pv = [p["metrics"][m["name"]]["value"] for p, _ in pairs]
            cv = [c["metrics"][m["name"]]["value"] for _, c in pairs]
            v, wins = verdict(pv, cv, m["better"], m["bound"],
                              load_differs and m["unit"] in ("s", "rows/s"))
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{w:9s} {m['name']:14s} {fmt(quartiles(pv)):34s} {fmt(quartiles(cv)):34s} "
                  f"{wins:>3d}/{len(pairs):<2d}  {v}")
        failed = [(p["failed"], c["failed"]) for p, c in pairs]
        print(f"{w:9s} failed ops per run (parent, change): {failed}")
    print("\nlayer by layer (traced runs, medians):")
    for w in workloads:
        pairs = paired(parent, change, w, 1)
        if not pairs:
            continue
        med = lambda side, get: statistics.median(get(r) for r in side)
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        for m in bench["per_layer"]:
            get = lambda r, n=m["name"]: r["metrics"][n]["value"]
            a, b = med(ps, get), med(cs, get)
            if a != b:
                ratio = f"{b / a:.3f}x" if a else "new"
                print(f"{w:9s} {m['name']:44s} {a:14.6g} -> {b:14.6g} {m['unit']:7s} {ratio}")
        names = sorted(set().union(*(r["self_time_s"] for r in ps + cs)))
        for n in names:
            get = lambda r, n=n: r["self_time_s"].get(n, {"self": 0.0})["self"]
            a, b = med(ps, get), med(cs, get)
            print(f"{w:9s} self.{n:39s} {a:14.6g} -> {b:14.6g} s")


if __name__ == "__main__":
    main()
