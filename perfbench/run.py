#!/usr/bin/env python3
"""Benchmark of the graft CDC/CEP engine.

Run from the repository root:

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 14 --trace 0

Builds the engine and the harness from source on first use (sbt, cached under
perfbench/.build, keyed by a hash of the sources), runs one workload in its
own JVM, checks its outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 they are the
per-layer metrics of a traced run, plus the tracing overhead (traced minus
untraced end-to-end, from a second, untraced run of the same seed).

Box-load canaries (ALU and memory bandwidth) run in the benchmark JVM before
the Spark session starts and after the outputs are checked; they are printed
on the line before the result, flagged when they moved by more than the bound
of turns_per_s.

    python3 perfbench/run.py --selftest

runs every workload at a tiny size and checks that every metric prints with
its unit, and that a wrong expected digest fails the run.

Exit status: 0 when every output is correct, 1 on a mismatch, 2 when the
engine's sources are missing, 3 when the build or the harness fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")

# a run must end within 180 s; keep a margin for cleanup
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# java.base packages Spark needs opened when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("cdc", "stateful_cep")


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for extra in (os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "project")):
        if os.path.isdir(extra):
            files += [os.path.join(extra, f) for f in os.listdir(extra)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, f"engine sources not found under {ROOT} (need build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail(3, "sbt and java must be on PATH")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_hash()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as logf:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "export Runtime/fullClasspath"],
                cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=logf,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(3, "sbt build timed out")
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    with open(os.path.join(BUILD_DIR, "sbt.log"), "a") as logf:
        logf.write(r.stdout)
    cp = next((l for l in reversed(lines) if not l.startswith("[") and ".jar" in l), None)
    if r.returncode != 0 or cp is None:
        fail(3, f"sbt build failed (exit {r.returncode}); see {BUILD_DIR}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, work, main, args):
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": os.path.join(work, "derby"),
    }
    os.makedirs(props["java.io.tmpdir"], exist_ok=True)
    cmd = ["java", "-Xms1g", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    return cmd + ["-cp", cp, main] + args


def run_jvm(cmd, deadline, logpath, marker):
    """Run one JVM in its own process group; return the JSON after `marker`."""
    with open(logpath, "a") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=logf,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            outs, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "timed out"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        logf.write(outs)
    for line in reversed(outs.splitlines()):
        if line.startswith(marker + " "):
            return json.loads(line[len(marker) + 1:]), None
    return None, f"exit {p.returncode} without a result"


def harness(cp, work, deadline, logpath, a, trace, scale=None, corrupt=False):
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if trace else "0", "--work", os.path.join(work, "data")]
    if scale:
        args += ["--scale", str(scale)]
    if corrupt:
        args += ["--corrupt-expected", "1"]
    res, err = run_jvm(java_cmd(cp, work, "graftbench.Harness", args), deadline, logpath,
                       "GRAFTBENCH_RESULT")
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    if res is None:
        tail = ""
        try:
            with open(logpath) as f:
                tail = "".join(f.readlines()[-30:])
        except OSError:
            pass
        fail(3, f"harness failed ({err}); log tail:\n{tail}")
    return res


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def canary_drift(before, after, bound):
    flags = []
    for k in ("alu_giters_per_s", "mem_gb_per_s"):
        b, c = before.get(k), after.get(k)
        if isinstance(b, (int, float)) and isinstance(c, (int, float)) and b > 0:
            if abs(c - b) / b > bound:
                flags.append(f"{k} moved {100 * (c - b) / b:+.1f}% during the run")
    return flags


def measure(a, cp, work, deadline, corrupt=False, scale=None):
    spec = load_spec()
    logpath = os.path.join(work, "jvm.log")
    untraced = harness(cp, work, deadline, logpath, a, trace=False, scale=scale, corrupt=corrupt)
    runs = [untraced]
    metrics = {}
    if a.trace:
        traced = harness(cp, work, deadline, logpath, a, trace=True, scale=scale, corrupt=corrupt)
        runs.append(traced)
        layers = dict(traced["per_layer"])
        # the traced JVM prepares once; set-up is measured by the untraced one
        layers.update({k: v for k, v in untraced["per_layer"].items() if k.startswith("setup.")})
        # throughput lost to tracing, in % of the untraced run's
        u = untraced["end_to_end"]["turns_per_s"]["value"]
        t = traced["end_to_end"]["turns_per_s"]["value"]
        layers["trace.overhead_pct"] = {"value": 100.0 * (u - t) / u, "unit": "%"}
        for m in spec["per_layer"]:
            v = layers.get(m["name"], {"value": 0.0})["value"]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            v = untraced["end_to_end"].get(m["name"], {"value": None})["value"]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    before, after = runs[0].get("canary_before", {}), runs[-1].get("canary_after", {})
    bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "turns_per_s")
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "canary_before": before, "canary_after": after,
        "canary_flags": canary_drift(before, after, bound),
        "failures": [f for r in runs for f in r.get("failures", [])],
    }
    print(json.dumps(detail), flush=True)
    return {
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }


def new_work(a):
    work = os.path.join(WORK_ROOT, f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def selftest(cp):
    """Tiny-size run of every workload: every metric prints with its unit, and
    a wrong expected digest fails the run."""
    spec = load_spec()
    problems = []
    for wl in WORKLOADS:
        for trace in (False, True):
            a = argparse.Namespace(workload=wl, seed=7, seconds=1, trace=trace)
            work = new_work(a)
            try:
                res = measure(a, cp, work, time.time() + 600, scale=0.05)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            want = spec["per_layer"] if trace else spec["end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{wl} trace={trace}: metric {m['name']} missing or without unit {m['unit']}")
                elif not trace and got["value"] <= 0:
                    problems.append(f"{wl}: end-to-end metric {m['name']} is {got['value']}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: run not correct: {res}")
            print(f"selftest {wl} trace={int(trace)}: {len(want)} metrics, "
                  f"{res['attempted']} attempted, {res['failed']} failed", flush=True)
        a = argparse.Namespace(workload=wl, seed=7, seconds=1, trace=False)
        work = new_work(a)
        try:
            res = measure(a, cp, work, time.time() + 600, corrupt=True, scale=0.05)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{wl}: a wrong expected digest did not fail the run")
        print(f"selftest {wl} wrong digest: correct={res['correct']} failed={res['failed']}", flush=True)
    for p in problems:
        print(f"selftest FAIL: {p}", flush=True)
    print("selftest " + ("FAILED" if problems else "passed"), flush=True)
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=load_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    a.trace = bool(a.trace)
    t_start = time.time()
    cp = build()
    if a.selftest:
        sys.exit(selftest(cp))
    if a.workload is None:
        fail(3, "--workload is required")
    # a first run that had to build gets the rest of its budget after the build
    deadline = time.time() + RUN_BUDGET_S - min(10.0, time.time() - t_start)
    work = new_work(a)
    try:
        res = measure(a, cp, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print(json.dumps(res), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
