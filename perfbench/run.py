#!/usr/bin/env python3
"""graft benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload files_interactive --seed 1 --seconds 22 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark's JVM client from source with sbt (outputs under target/ and
.bench_build/) and writes the inputs; later runs reuse both while the
sources are unchanged. Each run then launches one JVM from the compiled
classpath on the session `graft.engine.Session.local` builds, runs the
workload's seeded plan (a warm-up round, then the whole rounds that fill
--seconds on the reference host), checks every output against DuckDB, and prints
one summary line and, last, one JSON object with the metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import plans  # noqa: E402

WORKLOADS = ("files_interactive", "catalog_mix")
WORK = ".bench_build"
HEAP = "3g"            # fixed heap (-Xms = -Xmx) for every JVM the benchmark starts
# Seconds one timed round of each workload takes on the reference host
# (4 cores, see README.md). A run's timed phase is ceil(--seconds / this) whole rounds:
# the work is fixed by --seconds, so a slow or fast host changes how long
# a run takes, never how much it measures.
ROUND_S = {"files_interactive": 7.5, "catalog_mix": 9.0}
JVM_TIMEOUT = 150
SF_DIR = os.environ.get("GRAFT_BENCH_SF", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# the end-to-end metrics every workload reports (BENCHMARK.json)
E2E_UNITS = {"setup_s": "s", "load_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
             "op_tail_s": "s", "cold_op_p50_s": "s", "live_heap_mb": "MB"}
# shown on files_interactive's run line only: catalog_mix neither exports nor reloads
FILES_UNITS = {"export_p50_s": "s", "reload_p50_s": "s"}
LAYER_UNITS = {
    "ingest.discover_s": "s", "ingest.load_csv_s": "s", "ingest.load_json_s": "s",
    "ingest.load_xlsx_s": "s", "ingest.load_jobs": "count", "ingest.read_amplification": "ratio",
    "engine.analyze_s": "s", "engine.plan_s": "s", "engine.exec_s": "s", "engine.describe_s": "s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count", "spark.task_s_per_op": "s",
    "spark.scan_mb_per_op": "MB", "spark.rows_read_per_row_out": "ratio",
    "spark.shuffle_mb_per_op": "MB", "spark.spill_mb_per_op": "MB", "spark.gc_s_per_op": "s",
    "io.save_csv_s": "s", "io.save_json_s": "s", "io.save_xlsx_s": "s", "io.save_parquet_s": "s",
    "io.save_jobs": "count", "io.export_p50_s": "s", "ingest.reload_p50_s": "s", "ext.build_s": "s", "ext.build_jobs": "count", "ext.pinned_mb": "MB",
    "ext.release_s": "s", "jvm.jit_ms": "ms", "jvm.gc_s": "s"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build --------------------------------------------------------------------

def _sources_stamp():
    h = hashlib.sha1()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
             "perfbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(root)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the JVM client with sbt; returns the runtime classpath.
    Reused while no source file changed."""
    stamp_path, cp_path = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    stamp = _sources_stamp()
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp


# ---- host -----------------------------------------------------------------------

def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"t": time.time(), "steal": cpu[7] if len(cpu) > 7 else 0,
            "total": sum(cpu), "load1": load1}


def host_summary(a, b):
    hz = os.sysconf("SC_CLK_TCK")
    steal = (b["steal"] - a["steal"]) / hz
    busy = max(b["total"] - a["total"], 1)
    return {"steal_s": round(steal, 2),
            "steal_pct": round(100.0 * (b["steal"] - a["steal"]) / busy, 2),
            "loadavg": round((a["load1"] + b["load1"]) / 2, 2)}


# ---- JVM --------------------------------------------------------------------------

def java_cmd(cp, run_dir, *args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "graftbench.Main", *args]


def start_jvm(cmd, run_dir, log_name):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = open(os.path.join(run_dir, log_name), "w")
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    return {"p": p, "t0": t0, "log": log, "name": log_name}


def finish_jvm(j, run_dir, deadline):
    """Waits for a JVM; on a timeout or a failure stops it before giving up."""
    try:
        out, _ = j["p"].communicate(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        out = None
    j["log"].close()
    if out is None or j["p"].returncode != 0:
        if j["p"].poll() is None:
            j["p"].kill()
            j["p"].wait()
        why = "did not finish in time" if out is None else f"exited with {j['p'].returncode}"
        die(f"JVM {why}, see {run_dir}/{j['name']}")
    return out


# ---- statistics -----------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: the order statistics
    weighted by a Beta((n+1)q, (n+1)(1-q)) density over their ranks. The
    operations come from templates of very different costs, and the single
    sample at a rank jumps between runs whenever a gap between two
    templates' costs sits at that rank; the weighted estimate moves less."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(t):
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - norm) if 0 < t < 1 else 0.0

    m = 16  # Simpson panels per rank
    weights = []
    for i in range(n):
        h = 1 / (n * m)
        ts = [(i * m + j) * h for j in range(m + 1)]
        weights.append(h / 3 * sum(density(t) * (1 if j in (0, m) else 4 if j % 2 else 2)
                                   for j, t in enumerate(ts)))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(xs):
    """The highest of p99/p95/p90/p80/p75/p70/p60 with at least 10
    samples beyond it; the median below 25 samples."""
    n = len(xs)
    for p in (99, 95, 90, 80, 75, 70, 60):
        if n * (100 - p) / 100 >= 10:
            return quantile(xs, p / 100), p
    return quantile(xs, 0.5), 50


# ---- metrics ------------------------------------------------------------------------------

def e2e_metrics(workload, rec, setup_s, ok_ids):
    ops = rec["ops"]
    warm = [o for o in ops if not o["cold"]]
    passed = [o for o in warm if o["id"] in ok_ids]
    lat = [o["lat"] for o in passed]
    cold = {}
    for o in ops:
        if o["cold"] and o["id"] in ok_ids:
            cold.setdefault(o["tpl"], o["lat"])
    op_tail, pct = tail(lat)
    m = {"setup_s": (setup_s, 1),
         "ops_per_s": (len(passed) / max(sum(o["lat"] for o in warm), 1e-9), len(warm)),
         "op_p50_s": (quantile(lat, 0.5), len(lat)),
         "op_tail_s": (op_tail, len(lat)),
         "cold_op_p50_s": (quantile(list(cold.values()), 0.5), len(cold)),
         "live_heap_mb": (rec["end"]["live_heap_mb"], 1),
         "load_s": (rec["load"]["s"], 1)}
    if workload == "files_interactive":
        saves = [s["save_s"] for o in passed for s in o["steps"] if s["k"] == "export"]
        m["export_p50_s"] = (median(saves), len(saves))
        loads = [s["s"] for o in passed for s in o["steps"] if s["k"] == "load"]
        m["reload_p50_s"] = (median(loads), len(loads))
    return m, pct


def _fmt_of(path):
    name = os.path.basename(path).lower()
    for ext in ("csv", "json", "xlsx", "parquet"):
        if f".{ext}" in name:
            return ext
    return "other"


def layer_metrics(rec):
    spans = rec["spans"]
    warm_ops = {o["id"] for o in rec["ops"] if not o["cold"]}
    rows_out = sum(len(s.get("rows", [])) for o in rec["ops"] if o["id"] in warm_ops
                   for s in o["steps"] if s["k"] in ("sql", "catalog"))
    dur = lambda s: (s["t1"] - s["t0"]) / 1e9
    c = lambda s, k: s["c"][k]

    def named(name, warm_only=True, fmt=None):
        return [s for s in spans if s["name"] == name
                and (not warm_only or s["op"] in warm_ops)
                and (fmt is None or _fmt_of(s["arg"]) == fmt)]

    def med(name, **kw):
        return median([dur(s) for s in named(name, **kw)])

    def per(ss, k, scale=1.0):
        return sum(c(s, k) for s in ss) * scale / len(ss) if ss else 0.0

    loads = named("ingest.load", warm_only=False)
    op_spans = [s for s in spans if s["name"] == "op" and s["op"] in warm_ops]
    row_ops = [s for s in op_spans if any(
        st["k"] in ("sql", "catalog") for o in rec["ops"] if o["id"] == s["op"] for st in o["steps"])]
    saves = named("io.save")
    builds = named("ext.build")
    pins = [s["pinned_mb"] for o in rec["ops"] if o["id"] in warm_ops
            for s in o["steps"] if "pinned_mb" in s]
    mb = 1 / 1048576
    load_bytes = sum(s["bytes"] for s in loads)
    return {
        "ingest.discover_s": med("ingest.discover", warm_only=False),
        "ingest.load_csv_s": med("ingest.load", warm_only=False, fmt="csv"),
        "ingest.load_json_s": med("ingest.load", warm_only=False, fmt="json"),
        "ingest.load_xlsx_s": med("ingest.load", warm_only=False, fmt="xlsx"),
        "ingest.load_jobs": per(loads, "jobs"),
        "ingest.read_amplification": sum(c(s, "in_bytes") for s in loads) / load_bytes if load_bytes else 0.0,
        "engine.analyze_s": med("engine.analyze"),
        "engine.plan_s": med("engine.plan"),
        "engine.exec_s": med("engine.exec"),
        "engine.describe_s": med("engine.describe"),
        "spark.jobs_per_op": per(op_spans, "jobs"),
        "spark.tasks_per_op": per(op_spans, "tasks"),
        "spark.task_s_per_op": per(op_spans, "task_ms", 1e-3),
        "spark.scan_mb_per_op": per(op_spans, "in_bytes", mb),
        "spark.rows_read_per_row_out": sum(c(s, "in_records") for s in row_ops) / max(rows_out, 1),
        "spark.shuffle_mb_per_op": per(op_spans, "shuffle_bytes", mb),
        "spark.spill_mb_per_op": per(op_spans, "spill_bytes", mb),
        "spark.gc_s_per_op": per(op_spans, "gc_ms", 1e-3),
        "io.save_csv_s": med("io.save", fmt="csv"),
        "io.save_json_s": med("io.save", fmt="json"),
        "io.save_xlsx_s": med("io.save", fmt="xlsx"),
        "io.save_parquet_s": med("io.save", fmt="parquet"),
        "io.save_jobs": per(saves, "jobs"),
        "io.export_p50_s": med("io.save"),
        "ingest.reload_p50_s": med("ingest.load"),
        "ext.build_s": median([dur(s) for s in builds]),
        "ext.build_jobs": per(builds, "jobs"),
        "ext.pinned_mb": sum(pins) / len(pins) if pins else 0.0,
        "ext.release_s": med("ext.release"),
        "jvm.jit_ms": float(rec["end"]["jit_total_ms"]),
        "jvm.gc_s": float(rec["end"]["gc_total_s"]),
    }


def read_record(path):
    rec = {"ops": [], "spans": [], "oracles": {}}
    with open(path) as f:
        for line in f:
            x = json.loads(line)
            t = x["type"]
            if t == "op":
                rec["ops"].append(x)
            elif t == "span":
                rec["spans"].append(x)
            elif t == "oracle":
                rec["oracles"][x["name"]] = x["sql"]
            else:
                rec[t] = x
    return rec


# ---- one run ------------------------------------------------------------------------------

def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    if not os.path.isfile(os.path.join(SF_DIR, "lineitem.parquet")):
        die(f"sf0.1 test tables not found in {SF_DIR} (set GRAFT_BENCH_SF)")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    manifest = gen.base_inputs(SF_DIR, os.path.join(WORK, "inputs", "base"))

    run_dir = os.path.abspath(os.path.join(WORK, "runs", a.workload))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "exports"):
        os.makedirs(os.path.join(run_dir, d))
    con = gen.connect(SF_DIR, threads=4)
    gen.truth_views(con)
    base = os.path.abspath(os.path.join(WORK, "inputs", "base"))
    plan = {"workload": a.workload, "trace": bool(a.trace),
            "sf_dir": os.path.abspath(SF_DIR), "out": os.path.join(run_dir, "record.jsonl"),
            "input_dir": "", "oracles": []}
    if a.workload == "files_interactive":
        live = os.path.join(run_dir, "live")
        shutil.copytree(base, live)
        plan["input_dir"] = live
        stage = gen.refresh_stage(con, a.seed, os.path.join(run_dir, "stage"))
        rounds, specs = plans.build(a.workload, a.seed, run_dir, stage=stage, manifest=manifest)
    else:
        plan["oracles"] = plans.CATALOG_SAMPLE
        rounds, specs = plans.build(a.workload, a.seed, run_dir)
    plan["rounds"] = rounds[:1 + max(1, math.ceil(a.seconds / ROUND_S[a.workload]))]
    plan_path = os.path.join(run_dir, "plan.json")

    prepared = time.time()
    h0 = host_sample()
    plans.dump(plan_path, plan)
    jvm = start_jvm(java_cmd(cp, run_dir, plan_path), run_dir, "jvm.log")
    finish_jvm(jvm, run_dir, time.time() + JVM_TIMEOUT)
    rec = read_record(plan["out"])
    setup_s = rec["setup"]["ready_ms"] / 1000 - jvm["t0"]
    host = host_summary(h0, host_sample())

    ran = time.time()
    checker = checks.Checker(con, os.path.join(WORK, "oracle_cache"))
    checker.oracles = rec["oracles"]
    failures = {}
    for o in rec["ops"]:
        why = checker.check(o, specs[o["id"]])
        if why:
            failures[o["id"]] = (o["tpl"], why)
    unexpected = {k: v for k, v in failures.items() if v[0] not in checks.KNOWN_FAULTS}
    for oid, (tpl, why) in sorted(unexpected.items())[:10]:
        print(f"perfbench: FAILED {oid} {tpl}: {why}", file=sys.stderr)
    ok_ids = {o["id"] for o in rec["ops"]} - set(failures)

    e2e, pct = e2e_metrics(a.workload, rec, setup_s, ok_ids)
    history = os.path.join(WORK, "history", f"{a.workload}.jsonl")
    if a.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer_metrics(rec).items()}
        overhead = trace_overhead(history, e2e, a.seed)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, n) in e2e.items() if k in E2E_UNITS}
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "a") as f:
            f.write(json.dumps(dict({k: v for k, (v, n) in e2e.items()}, seed=a.seed)) + "\n")
        overhead = ""
    units = dict(E2E_UNITS, **FILES_UNITS)
    parts = [f"{k}={v:.4g} {units[k]} (n={n})" for k, (v, n) in e2e.items()]
    parts[list(e2e).index("op_tail_s")] += f" [p{pct}]"
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} rounds={rec['end']['rounds']}: "
          + ", ".join(parts)
          + f" | attempted={len(rec['ops'])} failed={len(failures)}"
          + f" | host steal={host['steal_s']} s ({host['steal_pct']}%) loadavg={host['loadavg']}"
          + f" | wall prepare={prepared - started:.1f} s jvm={ran - prepared:.1f} s"
          + f" check={time.time() - ran:.1f} s"
          + overhead)
    print(json.dumps({"correct": not unexpected, "attempted": len(rec["ops"]),
                      "failed": len(failures), "metrics": metrics}))


def trace_overhead(history, e2e, seed):
    """How far this traced run's end-to-end numbers sit from the median of
    the untraced runs of the same seed recorded in this checkout (the
    seed fixes the operations, so only tracing differs)."""
    past = []
    if os.path.exists(history):
        with open(history) as f:
            past = [p for p in map(json.loads, filter(str.strip, f)) if p.get("seed") == seed]
    if not past:
        return f" | trace overhead: no untraced run of seed {seed} to compare"
    out = []
    for k in ("op_p50_s", "ops_per_s", "op_tail_s", "cold_op_p50_s"):
        base = median([p[k] for p in past])
        out.append(f"{k} {100 * (e2e[k][0] / base - 1):+.1f}%")
    return f" | trace overhead vs {len(past)} untraced runs of seed {seed}: " + ", ".join(out)


if __name__ == "__main__":
    main()
