#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It builds the engine and the
harness from source (scalac from the Spark distribution, no sbt), makes
the workload's corpus from the seed, computes the DuckDB oracle results,
runs the harness (graft.perfbench.Main) in one JVM, checks every output
against DuckDB, and prints the metrics. The last stdout line is one JSON
object: correct, attempted, failed, metrics. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The full record goes
to .bench_build/records/. Everything the run writes stays under
.bench_build/ in the checkout. README.md in this directory explains the
workloads and metrics.
"""
import argparse
import ctypes
import datetime
import hashlib
import json
import os
import pickle
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MIN_FREE_GB = 2
# the highest reported op percentile, p75, needs ten samples beyond it
MIN_SAMPLES = 40
JVM_TIMEOUT_S = 160

# Each workload (workloads.json): corpus scale (1.0 = the sf0.1 test
# tables' row counts), key-offset replicas K, the JIT warm-up passes run
# after the cold pass and not counted, the warm passes to run at least,
# the op list and, for `land`, the queries that read each landed artifact
# back for the DuckDB check (a wrong read-back fails that artifact's
# landing op). README.md says why these ops and scales, and why curation
# and stream are not workloads (yet).
with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_disk():
    st = os.statvfs(ROOT)
    free_gb = st.f_bavail * st.f_frsize / 2**30
    if free_gb < MIN_FREE_GB:
        die(f"only {free_gb:.1f} GB free under {ROOT}; need {MIN_FREE_GB} GB")


def sources():
    out = []
    for top in ["src/main/scala", os.path.join(os.path.relpath(HERE, ROOT), "src")]:
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The Spark distribution's jar directory, as build.sbt declares it
    (`unmanagedBase`); it also holds the Scala compiler."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        die(f"no Spark jar directory declared in {ROOT}/build.sbt")
    return m.group(1)


def build():
    """Compiles the engine and the harness into .bench_build/classes-<hash>,
    keyed by the content of every source file; reused while unchanged."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        die(f"no engine sources under {ROOT}/src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = tmp + ".args"
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    cp = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                  if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", j))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", f"{jars}/*", "-d", tmp, f"@{args}"],
                       capture_output=True, text=True, timeout=600)
    os.remove(args)
    if r.returncode != 0:
        die("build failed:\n" + r.stdout[-3000:] + r.stderr[-3000:])
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run finished the same build first
        shutil.rmtree(tmp)
    return out


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def _die_with_parent():
    """Runs in the child before exec: the kernel kills it if this process
    dies first, so no JVM outlives the run."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def java(classes, main, args, work, log, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{classes}:{spark_jars()}/*", main, *args]
    with open(log, "w") as err:
        # subprocess.run kills and reaps the JVM if it overruns
        r = subprocess.run(cmd, cwd=work, stdout=err, stderr=err, timeout=timeout,
                           preexec_fn=_die_with_parent)
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-2000:]
        die(f"{main} exited {r.returncode}; log {log}:\n{tail}")


def ensure_corpus(name, w, seed):
    """The workload's corpus for this seed, generated once and cached."""
    d = os.path.join(BUILD, "corpus", f"{name}-s{seed}-x{w['scale']}-k{w['replicas']}")
    done = os.path.join(d, "_DONE.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        tabs = corpus.derive(corpus.base_tables(w["scale"]), seed, w["replicas"])
        corpus.write(tabs, d, os.cpu_count())
        with open(done, "w") as f:
            json.dump(corpus.row_counts(tabs), f)
    with open(done) as f:
        rows = json.load(f)
    fp = hashlib.sha256()
    for t in sorted(os.listdir(d)):
        if t.endswith(".parquet"):
            for p in sorted(os.listdir(os.path.join(d, t))):
                with open(os.path.join(d, t, p), "rb") as f:
                    fp.update(f.read())
    return d, rows, fp.hexdigest()[:16]


def ensure_expected(name, w, seed, classes, cdir):
    """DuckDB results for every checked output, cached per corpus, build
    (which holds the oracle SQL) and query list."""
    queries = list(w.get("verify", w["ops"]))
    key = hashlib.sha256(f"{cdir}|{classes}|{queries}".encode()).hexdigest()[:16]
    path = os.path.join(BUILD, "oracle", f"{name}-s{seed}-{key}.pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    # the oracle SQL depends only on the build and the query list
    sql_json = f"{classes}.oracle-{hashlib.sha256(str(queries).encode()).hexdigest()[:16]}.json"
    if not os.path.exists(sql_json):
        work = os.path.join(BUILD, "work", f"oracle-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        java(classes, "graft.perfbench.OracleSql", [sql_json + ".tmp", *queries], work,
             os.path.join(work, "oracle.log"), JVM_TIMEOUT_S)
        os.replace(sql_json + ".tmp", sql_json)
        shutil.rmtree(work)
    with open(sql_json) as f:
        sql = json.load(f)
    missing = [q for q in queries if q not in sql]
    if missing:
        die(f"no oracle SQL for {missing}")
    if name == "land":
        sql.update(oracle.CYCLE)
    expected = oracle.expected(cdir, sql)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(expected, f)
    os.rename(path + ".tmp", path)
    return expected


def failing_ops(w, ops, wrong):
    """Op name -> reason, for every op whose output was wrong: a query
    itself, the landing a read-back query checks, or every step of the
    daily cycle when its table is wrong."""
    out = {}
    for name, why in wrong.items():
        if name in oracle.CYCLE:
            out.update({op: f"{name}: {why}" for op in ops if op.startswith("cycle.")})
        elif name in w.get("verify", {}):
            out[f"land.{w['verify'][name]}"] = f"{name}: {why}"
        else:
            out[name] = why
    return out


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs since boot, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return v[7], sum(v)


def host_load(before, after):
    """Share of CPU time the hypervisor gave to other guests (steal)
    between two cpu_jiffies() readings. Other tenants' load slows every
    wall time of a run; compare.py uses this to tell such runs apart."""
    if not before or not after or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def harness(name, w, seed, seconds, trace, classes, cdir, check=True, timeout=JVM_TIMEOUT_S,
            tag=""):
    """Runs graft.perfbench.Main once; returns its raw record, the work
    directory (outputs to check are under work/verify) and the host's
    load while it ran: the share of CPU time stolen, and the load
    average."""
    work = os.path.join(BUILD, "work", f"{name}{tag}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    j0 = cpu_jiffies()
    java(classes, "graft.perfbench.Main", [
        "--workload", name, "--corpus", cdir, "--ops", ",".join(w["ops"]),
        "--verify_ops", ",".join(w.get("verify", {})),
        "--seconds", str(seconds), "--trace", str(trace),
        "--min_samples", str(MIN_SAMPLES if check else 0), "--min_passes", str(w["passes"]),
        "--warmup_passes", str(w["warmup"]), "--out", raw_path,
        "--verify", os.path.join(work, "verify") if check else "", "--work", work],
        work, os.path.join(work, "jvm.log"), timeout)
    host = {"steal_share": host_load(j0, cpu_jiffies()), "loadavg": os.getloadavg()}
    with open(raw_path) as f:
        return json.load(f), work, host


def git_head():
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    (never the HEAD of some enclosing repository)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                       timeout=10)
    return r.stdout.strip() or "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        die(f"no BENCHMARK.json in {ROOT}; run from the root of a checkout")
    w = WORKLOADS[a.workload]
    t0 = time.monotonic()
    os.makedirs(BUILD, exist_ok=True)
    check_disk()
    classes = build()
    cdir, rows, fp = ensure_corpus(a.workload, w, a.seed)
    expected = ensure_expected(a.workload, w, a.seed, classes, cdir)

    t1 = time.monotonic()
    rec, work, host = harness(a.workload, w, a.seed, a.seconds, a.trace, classes, cdir)
    t2 = time.monotonic()
    errors = rec.pop("verify_errors")
    wrong = {**errors, **oracle.mismatches(os.path.join(work, "verify"), expected, exclude=errors)}
    rec["mismatches"] = failing_ops(w, rec["ops"], wrong)
    bad = metrics.failed_ops(rec)
    attempted = sum(len(p["ops"]) for p in rec["passes"])
    failed = sum(1 for p in rec["passes"] for o in p["ops"] if o["op"] in bad)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    if a.trace:
        values = metrics.per_layer(rec, rec["cores"])
        counts = {k: len(rec["passes"]) - 1 - rec["warmup_passes"] for k in values}
    else:
        e2e = metrics.end_to_end(rec, a.seconds)
        values = {k: v for k, (v, _) in e2e.items()}
        counts = {k: c for k, (_, c) in e2e.items()}
    names = [m["name"] for m in wanted]
    if sorted(names) != sorted(values) or not all(metrics.NAME_RE.match(n) for n in names):
        die(f"metric names differ from BENCHMARK.json: {sorted(set(names) ^ set(values))}")
    units = {m["name"]: m["unit"] for m in wanted}
    out = {n: {"value": values[n], "unit": units[n], "samples": counts[n]} for n in names}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "when": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "git_head": git_head(), "nproc": rec["cores"], "max_heap_mb": rec["max_heap_mb"],
        "spark_version": rec["spark_version"], "conf": rec["conf"],
        "corpus": {"fingerprint": fp, "scale": w["scale"], "replicas": w["replicas"], "rows": rows},
        "ops": rec["ops"], "verified": sorted(expected), "wrong_outputs": wrong,
        "load": "closed loop, one client, sequential ops",
        "host": host,
        "root_append_probe": rec["root_append_probe"],
        "attempted": attempted, "failed": failed,
        "fail_ratio": {"value": failed / attempted, "failed": failed, "attempted": attempted},
        "failed_ops": bad, "metrics": out,
        "passes_s": [p["s"] for p in rec["passes"]],
        # the host's CPU steal while each pass ran (-1: not readable)
        "passes_steal_share": [p["steal_share"] for p in rec["passes"]],
        # per op, its time in every pass (cold first)
        "op_s": {op: [o["s"] for p in rec["passes"] for o in p["ops"] if o["op"] == op]
                 for op in rec["ops"]},
        "verify_s": rec["verify_s"], "verify_times_s": rec["verify_times_s"],
        "wall_s": {"prepare": t1 - t0, "jvm": t2 - t1, "check": time.monotonic() - t2},
    }
    if a.trace:
        record["self_time_s"] = metrics.warm_self_times(rec)
        record["top_rules_s"] = metrics.top_rules(rec, 15)
        record["tracing_overhead_s"] = tracing_overhead(a, rec)
        record["spans"] = metrics.attach_spark_spans(rec["trace"])
    rdir = os.path.join(BUILD, "records")
    os.makedirs(rdir, exist_ok=True)
    stamp = datetime.datetime.now().strftime("%Y%m%dT%H%M%S%f")
    rpath = os.path.join(rdir, f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}.json")
    with open(rpath, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for n in names:
        print(f"{a.workload:9s} {n:40s} {values[n]:14.6g} {units[n]:7s} n={counts[n]}")
    print(f"{a.workload:9s} correct={not bad} attempted={attempted} failed={failed} "
          f"failed_ops={sorted(bad)} record={os.path.relpath(rpath, ROOT)}")
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))


def tracing_overhead(a, rec):
    """Traced minus untraced warm_pass_s, against the latest untraced
    record of the same workload and seed, if there is one."""
    rdir = os.path.join(BUILD, "records")
    prior = sorted(p for p in os.listdir(rdir) if p.startswith(f"{a.workload}-s{a.seed}-t0-")) \
        if os.path.isdir(rdir) else []
    traced = statistics.median(p["s"] for p in metrics.warm_passes(rec))
    if not prior:
        return {"traced_warm_pass_s": traced, "untraced_warm_pass_s": None}
    with open(os.path.join(rdir, prior[-1])) as f:
        untraced = json.load(f)["metrics"]["warm_pass_s"]["value"]
    return {"traced_warm_pass_s": traced, "untraced_warm_pass_s": untraced,
            "overhead_s": traced - untraced}


if __name__ == "__main__":
    main()
