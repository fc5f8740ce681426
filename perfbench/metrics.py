"""Turns the raw record of one harness run into the benchmark's metrics.

Pure functions over the record graft.perfbench.Main writes, so every rule
here is unit-tested (test_metrics.py) without Spark:
  * a failed op is charged at least the run length, so a failure never
    lowers a pass time or an op percentile;
  * a percentile is refused unless at least ten samples lie beyond it;
  * a span's self time is its duration minus the union of its children.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

ARTIFACTS = ["lift_edges_v2", "lsh_pairs_v2", "ngram_pairs_v2", "embed_pairs_v2",
             "own_pairs_v2", "perceptron_w_v1", "dedup_clusters_v1", "bin_ingest_v1",
             "orc_cfg", "json_cfg", "csv_cfg", "text_lines", "xml_cfg", "part_orders"]
KERNELS = ["vec_dot", "word_shingles", "minhash8", "shingle_min_max_md5", "zorder16",
           "topk", "cms"]
GRAFT_RULES = ["VecDotRewrite", "AsOfJoinPruning"]


def percentile(values, q):
    """Nearest-rank percentile `q` (0 < q < 1). Raises ValueError unless
    at least ten samples lie beyond it."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < 10:
        raise ValueError(f"p{round(q * 100)} needs 10 samples beyond it; "
                         f"{n} samples leave {n - rank}")
    return sorted(values)[rank - 1]


def charged(sample, failed, floor_s):
    """Seconds an op sample counts for: a failed op counts as missing any
    latency limit, so it is charged at least `floor_s`, the run length."""
    return max(sample["s"], floor_s) if failed else sample["s"]


def failed_ops(rec):
    """Op name -> first error line. An op fails if any execution threw or
    its output did not match the oracle."""
    out = {}
    for p in rec["passes"]:
        for o in p["ops"]:
            if o["error"] and o["op"] not in out:
                out[o["op"]] = o["error"]
    for op, err in sorted(rec.get("mismatches", {}).items()):
        out.setdefault(op, err)
    return out


def warm_passes(rec):
    """The counted warm passes: after the cold pass and the warm-up ones."""
    return rec["passes"][1 + rec["warmup_passes"]:]


def end_to_end(rec, floor_s):
    """The end-to-end metrics of an untraced run, with sample counts."""
    bad = failed_ops(rec)
    is_failed = lambda o: o["op"] in bad

    def pass_s(p):
        return p["s"] + sum(charged(o, True, floor_s) - o["s"] for o in p["ops"] if is_failed(o))

    warm = warm_passes(rec)
    # an op that is part of the pass but not a workload op (Landing.reset)
    # counts in the pass time only
    lat = [charged(o, is_failed(o), floor_s) for p in warm for o in p["ops"]
           if o.get("sample", True)]
    warm_s = [pass_s(p) for p in warm]
    read, written = warm_rows(rec)
    moved = written if rec["workload"] == "land" else read
    return {
        "setup_s": (rec["setup"]["setup_s"], 1),
        "cold_pass_s": (pass_s(rec["passes"][0]), 1),
        "warm_pass_s": (statistics.median(warm_s), len(warm_s)),
        "op_p50_s": (percentile(lat, 0.5), len(lat)),
        "op_p75_s": (percentile(lat, 0.75), len(lat)),
        # rows per warm pass (the same every pass) over the median pass
        "rows_per_s": (moved / len(warm_s) / statistics.median(warm_s), len(warm_s)),
        "live_heap_mb": (rec["live_heap_mb"], 1),
    }


def warm_rows(rec):
    """Rows read and rows written by the warm passes' Spark tasks."""
    warm_ids = {o["id"] for p in warm_passes(rec) for o in p["ops"]}
    read = written = 0
    for group, (r, w) in rec["rows"].items():
        if group.split("#")[0] in warm_ids:
            read += r
            written += w
    return read, written


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span name -> [total, self] seconds, where self is the span's
    duration minus the part of it that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = _union([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])], lo, hi)
        acc = out.setdefault(s["name"], [0.0, 0.0])
        acc[0] += (hi - lo) / 1e3
        acc[1] += (hi - lo - covered) / 1e3
    return out


def warm_self_times(rec):
    """Span name -> {total, self} seconds per warm pass, Spark jobs included."""
    warm = {o["id"] for p in warm_passes(rec) for o in p["ops"]}
    spans = [s for s in attach_spark_spans(rec["trace"]) if s["op"] in warm]
    n = len(warm_passes(rec))
    return {k: {"total": v[0] / n, "self": v[1] / n} for k, v in sorted(self_times(spans).items())}


def attach_spark_spans(trace):
    """Spark jobs as spans under the harness span their job group names:
    `<op>#build` under SparkEntry.build, `<op>#exec` under ops.execute,
    a bare op id under the innermost of its op's spans open when the job
    started."""
    by_op = {}
    for s in trace["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    phase = {"build": "SparkEntry.build", "exec": "ops.execute"}
    out = list(trace["spans"])
    next_id = max([s["id"] for s in out], default=0) + 1
    for j in trace["jobs"]:
        op, _, ph = j["group"].partition("#")
        cands = [s for s in by_op.get(op, []) if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
        named = [s for s in cands if s["name"] == phase.get(ph)]
        parent = max(named or cands, key=lambda s: s["id"], default={"id": 0})["id"]
        out.append({"id": next_id, "parent": parent, "name": "spark.job", "op": op,
                    "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
        next_id += 1
    return out


def per_layer(rec, cores):
    """Per-layer metrics of a traced run: per warm pass means unless the
    name says otherwise; zero where the workload does not touch the layer."""
    t = rec["trace"]
    warm = warm_passes(rec)
    n = len(warm)
    windows = [(o["id"], o["start_ms"], o["start_ms"] + o["s"] * 1e3) for p in warm for o in p["ops"]]
    warm_ids = {w[0] for w in windows}
    base = lambda g: g.split("#")[0]
    tasks = [x for x in t["tasks"] if base(x["group"]) in warm_ids]
    stages = [x for x in t["stages"] if base(x["group"]) in warm_ids]
    jobs = [x for x in t["jobs"] if base(x["group"]) in warm_ids]
    spans = [x for x in t["spans"] if x["op"] in warm_ids]
    per = lambda v: v / n
    m = {}
    setup = rec["setup"]
    m["Tables.resolve_cold_s"] = setup["resolve_cold_s"]
    m["Tables.resolve_warm_s"] = setup["resolve_warm_s"]
    m["Tables.memo_hit_ratio"] = setup["memo_hits"] / setup["memo_lookups"]
    m["Tables.scan_bytes"] = per(sum(x["in_bytes"] for x in tasks))
    m["Tables.scan_rows"] = per(warm_rows(rec)[0])
    m["SparkEntry.build_s"] = per(sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                                      if s["name"] == "SparkEntry.build"))
    m["SparkEntry.build_jobs"] = per(sum(1 for j in jobs if j["group"].endswith("#build")))

    def owner(ms):
        for op, lo, hi in windows:
            if lo <= ms <= hi:
                return op
        return None
    qs = [q for q in t["queries"] if q["phases"] and
          owner(min(p["start_ms"] for p in q["phases"].values()))]
    for ph in ["analysis", "optimization", "planning"]:
        m[f"plans.{ph}_s"] = per(sum((q["phases"][ph]["end_ms"] - q["phases"][ph]["start_ms"]) / 1e3
                                     for q in qs if ph in q["phases"]))
    m["plans.exchanges"] = per(sum(q["exchanges"] for q in qs))
    m["plans.codegen_stages"] = per(sum(q["codegen_stages"] for q in qs))
    rules = {}
    for q in qs:
        for r, ns in q["rules_ns"].items():
            rules[r] = rules.get(r, 0) + ns / 1e9
    for r in GRAFT_RULES:
        m[f"plans.rule.{r}_s"] = per(sum(v for k, v in rules.items() if k.rstrip("$").endswith(r)))
    m["jvm.codegen_compile_s"] = rec["passes"][0]["codegen_compile_s"]
    m["jvm.gc_s"] = per(sum(p["gc_s"] for p in warm))
    m["ops.jobs"] = per(len(jobs))
    m["ops.stages"] = per(len(stages))
    m["ops.tasks"] = per(len(tasks))
    m["ops.task_s"] = per(sum(x["run_ms"] for x in tasks) / 1e3)
    m["ops.cpu_s"] = per(sum(x["cpu_ns"] for x in tasks) / 1e9)
    m["ops.deser_s"] = per(sum(x["deser_ms"] for x in tasks) / 1e3)
    m["ops.gc_s"] = per(sum(x["gc_ms"] for x in tasks) / 1e3)
    m["ops.shuffle_read_bytes"] = per(sum(x["shuffle_read"] for x in tasks))
    m["ops.shuffle_write_bytes"] = per(sum(x["shuffle_write"] for x in tasks))
    m["ops.spill_bytes"] = per(sum(x["spill"] for x in tasks))
    by_op = {}
    for x in tasks:
        by_op.setdefault(base(x["group"]), []).append((x["start_ms"], x["end_ms"]))
    m["ops.idle_s"] = per(sum((hi - lo - _union(by_op.get(op, []), lo, hi)) / 1e3
                              for op, lo, hi in windows))
    m["ops.core_util"] = m["ops.task_s"] / (statistics.mean(p["s"] for p in warm) * cores)
    m["ops.max_task_share"] = max_task_share(stages, tasks)
    for k in KERNELS:
        runs = rec.get("kernels", {}).get(k)
        m[f"functions.{k}.rows_per_s"] = runs["rows"] / statistics.median(runs["s"]) if runs else 0.0
    for a in ARTIFACTS:
        ids = {o["id"] for p in warm for o in p["ops"] if o["op"] == f"land.{a}"}
        m[f"sources.land.{a}_s"] = per(sum(o["s"] for p in warm for o in p["ops"] if o["id"] in ids))
        m[f"sources.land.{a}_jobs"] = per(sum(1 for j in jobs if base(j["group"]) in ids))
        m[f"sources.land.{a}_max_task_share"] = max_task_share(
            [s for s in stages if base(s["group"]) in ids], [x for x in tasks if base(x["group"]) in ids])
    step = lambda name: per(sum(o["s"] for p in warm for o in p["ops"] if o["op"] == name))
    m["sinks.commit_s"] = step("cycle.tx_append")
    m["sinks.append_s"] = step("cycle.append_overlap")
    m["sinks.write_s"] = step("cycle.write_date_partitioned")
    m["sinks.move_s"] = step("cycle.move_verified")
    m["sinks.read_s"] = step("cycle.tx_read")
    sk = rec.get("sinks") or {}
    m["sinks.files"] = sk.get("files", 0)
    m["sinks.data_bytes"] = sk.get("data_bytes", 0)
    m["sinks.log_bytes"] = sk.get("log_bytes", 0)
    m["sinks.bytes_per_row"] = sk["data_bytes"] / sk["rows"] if sk.get("rows") else 0.0
    # one append per cycle: any further commit on the table is a retry
    m["sinks.commit_retries"] = max(0, sk.get("commits", 1) - 1)
    return m


def top_rules(rec, k):
    """The k optimizer/analyzer rules that took the most time, summed over
    the run's query executions, seconds."""
    rules = {}
    for q in rec["trace"]["queries"]:
        for r, ns in q["rules_ns"].items():
            rules[r] = rules.get(r, 0.0) + ns / 1e9
    return dict(sorted(rules.items(), key=lambda kv: -kv[1])[:k])


def max_task_share(stages, tasks):
    """Slowest task over stage wall time, averaged over stages weighted by
    stage time: 1/cores means perfectly even, 1.0 means one task is the
    whole stage."""
    longest = {}
    for x in tasks:
        longest[x["stage"]] = max(longest.get(x["stage"], 0), x["end_ms"] - x["start_ms"])
    num = den = 0.0
    for s in stages:
        d = s["end_ms"] - s["start_ms"]
        if d > 0 and s["stage"] in longest:
            num += min(longest[s["stage"]], d)
            den += d
    return num / den if den else 0.0
