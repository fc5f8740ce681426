#!/usr/bin/env python3
"""Measures a workload's query family and picks the benchmark's subset.

    python3 perfbench/traffic.py etl           # ~10 min on 4 cores
    python3 perfbench/traffic.py land          # ~5 min
    python3 perfbench/traffic.py etl --reuse   # select again from the saved profile

Run from the root of a source checkout, on a quiet machine. For `etl` it
runs every query the family's owner objects register in SparkEntry once
cold and once warm, traced, at the sf0.1 row counts (scale 1.0) and at
the workload's scale. From each run it takes, per query: cold and warm
wall time, codegen compile time, Spark jobs, planning time (analysis,
optimization, physical planning), task time and idle time (no task
running: driver work and job round-trips). It pools these into the
family's split of time, then picks the subset of the workload's size
whose pooled split is closest to the family's at the workload's scale
(largest relative gap over the split's terms), within a warm-pass time
budget and with at least one query of every owner. `land` runs its whole op list, so there is no subset; its two
runs only show the split at both scales. The result goes to
perfbench/traffic/<workload>.json; workloads.json takes the op list
from there.
"""
import json
import os
import random
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

# owner objects of each family, as SparkEntry.queries names them
FAMILIES = {"etl": ["Acquisition", "TimeWindows", "Inventory", "Relational"]}
# the pooled split of time a subset must keep; see pooled()
TERMS = ["plan_share", "idle_share", "busy_share", "jobs_per_op", "codegen_share", "cold_over_warm"]
SEARCH_SEED = 0
PROFILE_TIMEOUT_S = 1800


def family(owners):
    """Query name -> owner object, for every query of the owners."""
    with open(os.path.join(run.ROOT, "src/main/scala/graft/SparkEntry.scala")) as f:
        src = f.read()
    pat = r'"(q_\w+)" -> \((' + "|".join(owners) + r')\.'
    return {m.group(1): m.group(2) for m in re.finditer(pat, src)}


def per_op(rec, cores):
    """Per op of the first warm pass: the figures the split is made of."""
    t = rec["trace"]
    cold = {o["op"]: o for o in rec["passes"][0]["ops"]}
    base = lambda g: g.split("#")[0]
    out = {}
    for o in rec["passes"][1]["ops"]:
        lo, hi = o["start_ms"], o["start_ms"] + o["s"] * 1e3
        tasks = [x for x in t["tasks"] if base(x["group"]) == o["id"]]
        plan = 0.0
        for q in t["queries"]:
            ph = q["phases"]
            if ph and lo <= min(p["start_ms"] for p in ph.values()) <= hi:
                plan += sum((p["end_ms"] - p["start_ms"]) / 1e3 for p in ph.values())
        busy = metrics._union([(x["start_ms"], x["end_ms"]) for x in tasks], lo, hi) / 1e3
        c = cold[o["op"]]
        out[o["op"]] = {
            "warm_s": o["s"], "cold_s": c["s"], "codegen_s": c["codegen_s"],
            "jobs": sum(1 for j in t["jobs"] if base(j["group"]) == o["id"]),
            "plan_s": plan, "task_s": sum(x["run_ms"] for x in tasks) / 1e3,
            "idle_s": o["s"] - busy, "error": o["error"] or c["error"]}
    return out


def pooled(ops, cores):
    """The split of time of a set of ops, pooled (sums over the set):
    planning, idle and task-busy shares of warm time, jobs per op,
    codegen share of cold time, and cold over warm time."""
    s = lambda k: sum(o[k] for o in ops)
    warm, cold = s("warm_s"), s("cold_s")
    return {"ops": len(ops), "warm_s": warm, "cold_s": cold,
            "plan_share": s("plan_s") / warm, "idle_share": s("idle_s") / warm,
            "busy_share": s("task_s") / (warm * cores), "jobs_per_op": s("jobs") / len(ops),
            "codegen_share": s("codegen_s") / cold, "cold_over_warm": cold / warm}


def gap(sub, fam):
    return max(abs(sub[k] / fam[k] - 1) for k in TERMS if fam[k])


def select(table, size, budget_s, cores, owner=None):
    """The `size` error-free ops whose pooled split is closest to the
    whole family's, with a warm pass of at most `budget_s` and, given an
    `owner` map, a query of every owner: random starts then swaps that
    lower the gap, with a fixed search seed."""
    fam = pooled(list(table.values()), cores)
    pool = sorted(n for n, o in table.items() if not o["error"])
    owner = owner or {}
    owners = set(owner.values())

    def cost(sel):
        if sum(table[n]["warm_s"] for n in sel) > budget_s or \
                owners - {owner.get(n) for n in sel}:
            return float("inf")
        return gap(pooled([table[n] for n in sel], cores), fam)
    rng = random.Random(SEARCH_SEED)
    best, best_gap = None, float("inf")
    for _ in range(200):
        sel = rng.sample(pool, size)
        g = cost(sel)
        improved = True
        while improved:
            improved = False
            for i in range(size):
                for n in pool:
                    if n in sel:
                        continue
                    cand = sel[:i] + [n] + sel[i + 1:]
                    cg = cost(cand)
                    if cg < g - 1e-9:
                        sel, g, improved = cand, cg, True
        if g < best_gap:
            best, best_gap = sorted(sel), g
    return best, best_gap


def profile(name, w, scale, ops, cores):
    w = dict(w, scale=scale, ops=ops, warmup=0, passes=1)
    classes = run.build()
    cdir, rows, fp = run.ensure_corpus(name, w, 1)
    rec, work, host = run.harness(name, w, 1, 1, 1, classes, cdir, check=False,
                                   timeout=PROFILE_TIMEOUT_S, tag=f"-profile{scale}")
    shutil.rmtree(work)
    table = per_op(rec, cores)
    return {"scale": scale, "corpus_fingerprint": fp, "steal_share": host["steal_share"],
            "family": pooled(list(table.values()), cores), "per_op": table}


def main():
    if len(sys.argv) not in (2, 3) or sys.argv[1] not in run.WORKLOADS:
        sys.exit(__doc__)
    name = sys.argv[1]
    w = run.WORKLOADS[name]
    cores = os.cpu_count()
    path = os.path.join(HERE, "traffic", f"{name}.json")
    owner = family(FAMILIES[name]) if name in FAMILIES else None
    if "--reuse" in sys.argv:
        with open(path) as f:
            out = json.load(f)
    else:
        ops = sorted(owner) if owner else w["ops"]
        out = {"workload": name, "cores": cores, "git_head": run.git_head(),
               "owners": FAMILIES.get(name), "terms": TERMS}
        out["full_scale"] = profile(name, w, 1.0, ops, cores)
        out["bench_scale"] = profile(name, w, w["scale"], ops, cores)
    if owner:
        table = out["bench_scale"]["per_op"]
        size, budget = w["subset_size"], w["warm_budget_s"]
        sel, g = select(table, size, budget, cores, owner)
        out["subset"] = {"size": size, "warm_budget_s": budget, "ops": sel, "gap": g,
                         "split": pooled([table[n] for n in sel], cores)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for k in ["full_scale", "bench_scale"]:
        print(k, json.dumps({t: round(v, 4) for t, v in out[k]["family"].items()}))
    if "subset" in out:
        print("subset", out["subset"]["ops"], "gap", round(out["subset"]["gap"], 4))
        print("subset", json.dumps({t: round(v, 4) for t, v in out["subset"]["split"].items()}))


if __name__ == "__main__":
    main()
