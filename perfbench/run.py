#!/usr/bin/env python3
"""Closed-loop query benchmark for the graft engine.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source with sbt (once per source
state), then starts a fresh JVM on the compiled classpath. One client runs
the workload's queries one at a time, in an order permuted by the seed, and
checks every result against perfbench/expected.tsv. The last line of stdout
is one JSON object: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. See perfbench/README.md for the definitions.

Other modes: --selftest (workload lists and the collect-vs-count guard) and
--record (print the expected answers of every workload query).
"""
import argparse
import hashlib
import json
import math
import os
import pwd
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# The read-only sf0.1 fixture, under the home directory of the running user.
DATA = os.path.join(pwd.getpwuid(os.getuid()).pw_dir, "testdata", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.tsv")
RUN_LIMIT_S = 170  # a run's own budget once the build is done
HEAP = "4g"
# A fixed young generation keeps G1's adaptive sizing, and with it the
# process's peak RSS, from varying run to run.
YOUNG = "768m"

# Spark 4 on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def check_workloads(workloads):
    """The lists are explicit, disjoint and of the recorded sizes."""
    problems = []
    seen = {}
    for name, w in workloads.items():
        qs = w["queries"]
        if len(qs) != w["size"]:
            problems.append(f"{name}: {len(qs)} queries, expected {w['size']}")
        if len(set(qs)) != len(qs):
            problems.append(f"{name}: duplicate names")
        for q in qs:
            if q in seen:
                problems.append(f"{q} is in both {seen[q]} and {name}")
            seen[q] = name
    return problems


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src")] + \
            [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for r in roots:
        paths = []
        if os.path.isfile(r):
            paths = [r]
        elif os.path.isdir(r):
            for d, dirs, files in os.walk(r):
                dirs[:] = sorted(x for x in dirs if x != "target")
                paths += [os.path.join(d, f) for f in sorted(files)
                          if f.endswith((".scala", ".java", ".sbt", ".properties"))]
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless this source state is already built; return
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src"))):
        fail("no engine sources next to the benchmark (build.sbt, src/)")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        # sbt writes the engine's classes into the root build's own target/
        # directories, which `sbt clean` empties: rebuild if one is gone.
        if cached.get("stamp") == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        with open(log, "a") as out:
            out.write(r.stdout)
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


# ---------------------------------------------------------------- JVM run

def run_jvm(cp, args, deadline):
    """Start the benchmark JVM and wait for it; return (launch time, records)."""
    rundir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(rundir, d))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT", "GRAFT_", "SPARK_CONF"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "local")
    java = shutil.which("java") or fail("java not found")
    cmd = [java, *ADD_OPENS, f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(rundir, 'local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(rundir, 'cwd', 'warehouse')}",
           f"-Dderby.system.home={os.path.join(rundir, 'cwd')}",
           "-cp", cp, "perfbench.Main", *args]
    err_path = os.path.join(rundir, "stderr.log")
    launch = time.time()
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=os.path.join(rundir, "cwd"), env=env,
                             stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(rundir, ignore_errors=True)
            sys.exit(3)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            out = ""
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)
    with open(err_path) as f:
        tail = f.read()[-4000:]
    shutil.rmtree(rundir, ignore_errors=True)
    records = [json.loads(l[4:]) for l in out.splitlines() if l.startswith("@pb ")]
    errors = [r["message"] for r in records if r["t"] == "error"]
    if p.returncode != 0 or errors:
        fail(f"benchmark JVM exited with {p.returncode}: {' '.join(errors) or tail}")
    return launch, records


def jvm_args(cores, mode, queries, extra=()):
    return ["--mode", mode, "--data", DATA, "--cores", str(cores),
            "--queries", ",".join(queries), *extra]


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- metrics

def tail_stat(samples):
    """The highest integer percentile with at least ten samples beyond it
    (nearest rank): (percentile, value, samples beyond)."""
    s = sorted(samples)
    n = len(s)
    pct = max(0, math.floor(100 * (n - 10) / n))
    rank = max(1, math.ceil(pct / 100 * n))
    return pct, s[rank - 1], n - rank


def end_to_end(launch, records):
    setup = next(r for r in records if r["t"] == "setup")
    qs = [r for r in records if r["t"] == "q"]
    passes = [r["pass_s"] for r in records if r["t"] == "pass"]
    end = next(r for r in records if r["t"] == "end")
    lat = [r["latency_s"] for r in qs]
    failed = sum(1 for r in qs if not r["ok"])
    pct, tail, beyond = tail_stat(lat)
    metrics = {
        "setup_s": (setup["first_us"] / 1e6 - launch, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tail, "s"),
        "failed_frac": (failed / len(qs), "ratio"),
        "peak_rss_mb": (end["vmhwm_kb"] / 1024, "MB"),
    }
    notes = {
        "query_p50_s": f"n={len(lat)}",
        "query_tail_s": f"p{pct}, {beyond} samples beyond, n={len(lat)}",
        "failed_frac": f"{failed}/{len(qs)}",
        "pass_s": f"median of {len(passes)} passes",
    }
    return metrics, notes, len(qs), failed


def per_layer(records, n_cores):
    setup = next(r for r in records if r["t"] == "setup")
    layers = [r for r in records if r["t"] == "layers"]
    passes = {r["pass"]: r["pass_s"] for r in records if r["t"] == "pass"}
    plant = next(r for r in records if r["t"] == "plant")
    by_pass = {}
    for r in layers:
        acc = by_pass.setdefault(r["pass"], {})
        for k, v in r["metrics"].items():
            acc[k] = acc.get(k, 0.0) + v
    for p, acc in by_pass.items():
        # The harness's own time: the gaps between a pass's executions.
        acc["self.harness_s"] = passes[p] - acc["latency_s"]
        acc["compute.cpu_util"] = acc["compute.cpu_s"] / (acc["latency_s"] * n_cores)
        acc["scheduling.task_retries"] = (acc["scheduling.failed_tasks"]
                                          / max(1.0, acc["scheduling.tasks"]))
    keys = sorted(next(iter(by_pass.values())))
    med = {k: statistics.median(p[k] for p in by_pass.values()) for k in keys}
    units = {"_s": "s", "_mb": "MB", "util": "ratio", "retries": "ratio"}
    metrics = {}
    for k in keys:
        if k in ("latency_s", "scheduling.failed_tasks"):
            continue
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        metrics[k] = (med[k], unit)
    metrics["engine.session_s"] = (setup["session_s"], "s")
    metrics["engine.warmup_s"] = (setup["warmup_s"], "s")
    metrics["operators.plant_s"] = (plant["plant_s"], "s")
    metrics["trace.pass_s"] = (statistics.median(passes.values()), "s")
    metrics["trace.latency_sum_s"] = (med["latency_s"], "s")
    sentinels_ok = all(r["sentinel_ok"] for r in layers)
    return metrics, sentinels_ok


# ---------------------------------------------------------------- modes

def selftest(workloads, cp, deadline):
    problems = check_workloads(workloads)
    everything = [q for w in workloads.values() for q in w["queries"]]
    _, recs = run_jvm(cp, jvm_args(cores(), "selftest", everything), deadline)
    for r in recs:
        if r["t"] != "selftest":
            continue
        print(f"{r['name']}: {r['expr']} in collect() plans: {r['in_timed_action']}, "
              f"in count() plans: {r['in_count']}")
        if not r["in_timed_action"]:
            problems.append(f"{r['name']}: the timed action dropped {r['expr']}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


def record(workloads, cp, deadline):
    lines = []
    for wname, w in workloads.items():
        _, recs = run_jvm(cp, jvm_args(cores(), "record", w["queries"]), deadline)
        for r in recs:
            if r["t"] == "expected":
                if not r["stable"]:
                    fail(f"{r['name']} gave different answers over {r['repeats']} repeats")
                lines.append(f"{r['name']}\t{r['rows']}\t{r['digest']}\t{wname}")
    print("\n".join(lines))
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=21)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    start = time.time()
    workloads = load_workloads()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    if a.selftest:
        return selftest(workloads, cp, time.time() + 600)
    if a.record:
        return record(workloads, cp, time.time() + 1800)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; choose from {', '.join(workloads)}")
    problems = check_workloads(workloads)
    if problems:
        fail("; ".join(problems))
    w = workloads[a.workload]
    passes = max(2, round(a.seconds / w["nominal_pass_s"]))
    n_cores = cores()
    extra = ["--passes", str(passes), "--seed", str(a.seed), "--trace", str(a.trace),
             "--expected", EXPECTED]
    if a.trace:
        extra += ["--spans", os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json")]
    launch, recs = run_jvm(cp, jvm_args(n_cores, "run", w["queries"], extra), deadline)
    exited = time.time()
    with open(os.path.join(WORK, f"records-{a.workload}-{a.seed}-{a.trace}.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs)
    e2e, notes, attempted, failed = end_to_end(launch, recs)
    correct = failed == 0
    for r in recs:
        if r["t"] == "q" and not r["ok"]:
            print(f"FAILED {r['name']} (pass {r['pass']}): {r['error']}")
    print(f"workload {a.workload}: {len(w['queries'])} queries x {passes} passes, "
          f"seed {a.seed}, local[{n_cores}], 1 client, closed loop")
    for k, (v, u) in e2e.items():
        print(f"  {k:<14} {v:>12.4f} {u:<6} {notes.get(k, '')}")
    if a.trace:
        metrics, sentinels_ok = per_layer(recs, n_cores)
        correct = correct and sentinels_ok
        if not sentinels_ok:
            print("FAILED a sentinel expression is missing from the executed plans")
        for k, (v, u) in sorted(metrics.items()):
            print(f"  {k:<32} {v:>12.4f} {u}")
    else:
        metrics = {k: e2e[k] for k in ("setup_s", "pass_s", "query_p50_s",
                                       "query_tail_s", "peak_rss_mb")}
    end = next(r for r in recs if r["t"] == "end")
    print(f"  (run wall {time.time() - start:.1f} s: launch at +{launch - start:.1f}, "
          f"end at +{end['end_us'] / 1e6 - start:.1f}, exit at +{exited - start:.1f})")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
