#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the engine and the harness from source (cached under
$CARGO_TARGET_DIR, default .bench_build), write the base tables (cached),
start one JVM running perfbench.Main for the workload, check the outputs,
and reduce the harness's operation records to the metrics named in
BENCHMARK.json: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Run details (seed, nproc, master, loadavg) go to stderr and to
<build_dir>/results/. The last stdout line is the result object.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import outputs  # noqa: E402

# a run must end within 180 s
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def pct(xs, q):
    """Harrell-Davis estimate of the q-th percentile (q in 0..100) of a
    non-empty list: a beta-weighted average of all order statistics. A run
    has only 7 to 15 samples; the plain sample quantile then jumps between
    neighbouring queries, and this estimator halved the run-to-run spread of
    the median on corpus_curation."""
    s = sorted(xs)
    n = len(s)
    p = q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(s))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_times():
    """Aggregate (steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(classes, args, work, log_path, timeout_s):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", os.pathsep.join([classes, build.classpath_jars()]), "perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            sys.exit(f"harness JVM exceeded {timeout_s} s; log: {log_path}")
        finally:
            # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()


# ---- correctness ----

def query_checks(queries, work, expected):
    """One check per query: row count and content hash of the check-pass
    output against expected.json."""
    out = []
    con = outputs.connect()
    for name in queries:
        exp = expected.get(name)
        path = os.path.join(work, "out", name)
        if exp is None:
            out.append((f"output:{name}", False, "no expected result recorded"))
            continue
        if not os.path.isdir(path):
            out.append((f"output:{name}", False, "no output written"))
            continue
        n, h = outputs.digest_parquet(con, path)
        ok = n == exp["rows"] and h == exp["hash"]
        out.append((f"output:{name}", ok, f"rows {n} vs {exp['rows']}, hash {h} vs {exp['hash']}"))
    return out


# ---- metrics ----

def phase_sum(op, key):
    return sum(p.get(key, 0) for p in op["phases"].values())


def end_to_end(res, ops):
    walls = [o["wall_s"] for o in ops if o["ok"]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (len(walls) / res["measure_s"], "1/s"),
        "latency_p50_s": (pct(walls, 50), "s"),
        "latency_p90_s": (pct(walls, 90), "s"),
    }


def plan_s(o):
    """Planning inside the execute phase (Probe.settle), 0 if not split."""
    return o.get("plan_s", 0.0)


def per_layer(res, ops, spec, error_rate):
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    m = {}

    def put(name, v):
        m[name] = v

    n = max(len(traced), 1)
    # query phases: the write's planning is split out of execute
    for ph in ("construct", "execute"):
        mine = [o for o in traced if ph in o["phases"]]
        put(f"{ph}.jobs_per_op",
            sum(o["phases"][ph].get("jobs", 0) for o in mine) / max(len(mine), 1))
    put("construct.p50_s", median([o["phases"]["construct"]["s"] for o in traced
                                   if "construct" in o["phases"]]))
    executed = [o for o in traced if "execute" in o["phases"]]
    put("plan.p50_s", median([plan_s(o) for o in executed]))
    put("execute.p50_s", median([o["phases"]["execute"]["s"] - plan_s(o) for o in executed]))
    # scheduler and executors
    stages = sum(phase_sum(o, "stages") for o in traced)
    for key, name in (("jobs", "spark.jobs_per_op"), ("stages", "spark.stages_per_op"),
                      ("tasks", "spark.tasks_per_op"), ("task_busy_s", "spark.task_busy_s_per_op"),
                      ("task_cpu_s", "spark.task_cpu_s_per_op"),
                      ("scheduler_delay_s", "spark.scheduler_delay_s_per_op"),
                      ("input_bytes", "spark.input_bytes_per_op"),
                      ("shuffle_write_bytes", "spark.shuffle_write_bytes_per_op"),
                      ("shuffle_read_bytes", "spark.shuffle_read_bytes_per_op"),
                      ("spill_bytes", "spark.spill_bytes_per_op")):
        put(name, sum(phase_sum(o, key) for o in traced) / n)
    put("spark.single_task_stage_ratio",
        sum(phase_sum(o, "single_task_stages") for o in traced) / stages if stages else 0.0)
    put("spark.driver_gap_s_per_op", sum(o["driver_gap_s"] for o in traced) / n)
    put("spark.failed_tasks", sum(phase_sum(o, "failed_tasks") for o in traced))
    # per-module and per-call timings
    for layer in spec["layers"]:
        mine = [o for o in traced if o["layer"] == layer["op_layer"]]
        put(f"{layer['name']}.p50_s", median([o["wall_s"] for o in mine]))
        put(layer["jobs_metric"],
            sum(phase_sum(o, "jobs") for o in mine) / len(mine) if mine else 0.0)
    # jvm and set-up
    put("jvm.gc_s_per_op", sum(o["gc_s"] for o in traced) / n)
    put("jvm.peak_rss_mb", res["peak_rss_mb"])
    put("storage.cached_rdds_end", res["cached_rdds_end"])
    for k in ("session_s", "warmup_s"):
        put(f"setup.{k}", res["setup_phases"].get(k, 0.0))
    put("error_rate", error_rate)
    # self time per layer: the operation's own time outside its phases, each
    # phase's driver time outside Spark jobs, and the time jobs were running
    self_t = dict.fromkeys(("harness", "construct", "plan", "execute", "spark_jobs"), 0.0)
    for o in traced:
        self_t["harness"] += o["wall_s"] - sum(p["s"] for p in o["phases"].values())
        for ph, p in o["phases"].items():
            cov = p.get("jobs_covered_s", 0.0)
            own = p["s"] - cov
            if ph == "execute":
                self_t["plan"] += plan_s(o)
                own -= plan_s(o)
            self_t[ph] = self_t.get(ph, 0.0) + own
            self_t["spark_jobs"] += cov
    for k, v in self_t.items():
        put(f"self.{k}_s_per_op", v / n)
    ut = [o["wall_s"] for o in untraced if o["ok"]]
    tt = [o["wall_s"] for o in traced if o["ok"]]
    put("trace.overhead_ratio", median(tt) / median(ut) if ut and tt else 0.0)
    return m


def phase_table(ops):
    """Per operation name, over its traced runs: median seconds and mean
    jobs of each phase, and the self time outside jobs. Planning is split
    out of execute."""
    table = {}
    for name in sorted({o["name"] for o in ops if o["traced"]}):
        mine = [o for o in ops if o["traced"] and o["name"] == name]
        row = {"n": len(mine), "wall_s": median([o["wall_s"] for o in mine])}
        for ph in mine[0]["phases"]:
            if ph == "execute":
                row["plan"] = {"s": median([plan_s(o) for o in mine]), "jobs": 0.0,
                               "self_s": median([plan_s(o) for o in mine])}
            cut = (lambda o: plan_s(o)) if ph == "execute" else (lambda o: 0.0)
            row[ph] = {"s": median([o["phases"][ph]["s"] - cut(o) for o in mine]),
                       "jobs": statistics.mean(o["phases"][ph].get("jobs", 0) for o in mine),
                       "self_s": median([o["phases"][ph]["s"] - cut(o) - o["phases"][ph].get(
                           "jobs_covered_s", 0.0) for o in mine])}
        table[name] = row
    return table


def write_trace(res, path):
    """Spans of the traced operations: one root per operation, one child per
    phase, one grandchild per Spark job of that phase, and the write's
    planning as the first grandchild of execute."""
    spans = []
    for o in res["ops"]:
        if not o["traced"]:
            continue
        root = f"op{o['id']}"
        spans.append({"id": root, "parent": None, "name": o["name"], "layer": o["layer"],
                      "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
        t = o["start_ms"]
        for ph, p in o["phases"].items():
            sid = f"{root}/{ph}"
            spans.append({"id": sid, "parent": root, "name": ph, "layer": ph,
                          "start_ms": t, "end_ms": t + p["s"] * 1e3})
            if ph == "execute" and plan_s(o) > 0:
                spans.append({"id": f"{sid}/plan", "parent": sid, "name": "plan",
                              "layer": "plan", "start_ms": t, "end_ms": t + plan_s(o) * 1e3})
            t += p["s"] * 1e3
            for job, a, b in p.get("job_spans", []):
                spans.append({"id": f"job{job}", "parent": sid, "name": f"job {job}",
                              "layer": "spark_jobs", "start_ms": a, "end_ms": b})
    with open(path, "w") as f:
        json.dump({"workload": res["workload"], "seed": res["seed"], "spans": spans}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run unwinds like sys.exit, so run_jvm stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = load_json("workloads.json")
    if a.workload not in spec["workloads"]:
        sys.exit(f"unknown workload {a.workload}; known: {sorted(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classes = build.build(build_dir)
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
    data = os.path.join(build_dir, "data")
    gen_data.write(data)

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(build_dir, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    jargs = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
             "data": data, "work": work, "out": out}
    jargs["queries"] = ",".join(f"{q}:{layer}" for q, layer in wl["queries"])
    cpu0 = cpu_times()
    try:
        rc = run_jvm(classes, jargs, work, log, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"harness failed (exit {rc}); log: {log}")
        with open(out) as f:
            res = json.load(f)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        checks += query_checks(sorted({q for q, _ in wl["queries"]}), work,
                               load_json("expected.json")["queries"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = cpu_times()
    ops = res["ops"]
    failed_ops = [o["name"] for o in ops if not o["ok"]]
    failed_checks = [c for c in checks if not c[1]]
    for c in failed_checks:
        print(f"[perfbench] check failed: {c[0]}: {c[2]}", file=sys.stderr)
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    error_rate = failed / attempted

    if a.trace:
        vals = per_layer(res, ops, spec, error_rate)
        units = {x["name"]: x["unit"] for x in load_json("../BENCHMARK.json")["per_layer"]}
        metrics = {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in units.items()}
        tdir = os.path.join(build_dir, "traces")
        os.makedirs(tdir, exist_ok=True)
        write_trace(res, os.path.join(tdir, f"{a.workload}-seed{a.seed}.json"))
        by_op = phase_table(ops)
        for name, row in by_op.items():
            print(f"{name:32s} wall {row['wall_s']:7.3f} s  " + "  ".join(
                f"{ph} {v['s']:6.3f} s/{v['jobs']:4.1f} jobs" for ph, v in row.items()
                if isinstance(v, dict)), file=sys.stderr)
    else:
        e2e = end_to_end(res, ops)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    hygiene = {k: res[k] for k in ("workload", "seed", "nproc", "master", "loadavg_before",
                                   "loadavg_after", "setup_s", "measure_s")}
    # share of the box's CPU time the hypervisor gave to others during the
    # run: a run with a high steal share ran on a contended host
    steal = (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1) if cpu0 and cpu1 else -1.0
    hygiene.update(n_ops=len(ops), n_checks=len(checks), failed_ops=failed_ops,
                   cpu_steal_share=round(steal, 4),
                   seed_why=spec["seed_why"], workload_why=wl["why"])
    rdir = os.path.join(build_dir, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"run": hygiene, "checks": checks, "metrics": metrics,
                   "ops": [[o["name"], round(o["wall_s"], 4), round(o["gc_s"], 4)] for o in ops],
                   "phases_by_op": phase_table(ops) if a.trace else {}}, f, indent=1)
    print(json.dumps(hygiene), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
