#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the engine's
public entry points (SparkEntry.queries, Warmup.all, api.GraftOps),
measured end to end and, in a traced run, per layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --table --seed 1     # every workload, one row each

Each run builds the engine from source if needed (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py), runs the JVM harness
(perfbench/harness) at local[<cores>], checks the outputs outside the
timed windows (oracled jobs through scripts/parity.py against DuckDB,
the others by stable row counts) and prints one JSON object as the last
line of standard output. Everything it writes stays under the checkout:
the build in $CARGO_TARGET_DIR (default .bench_build) and inputs,
scratch artifacts, logs and spans in .perfbench_work.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"
CODEGEN_CACHE = 5000
# a run ends within this many seconds after the build (the first run in
# a checkout also compiles)
DEADLINE_S = 165
# what spark-submit would add for Spark 4 on JDK 17 (as build.sbt does)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_child(cmd, log_path, timeout):
    """Run cmd with output to log_path; kill it (and wait) on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=max(1.0, timeout))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def require_repo():
    """Fail fast outside a full checkout (no engine sources to build)."""
    missing = [p for p in ("build.sbt", "src/main/scala", "scripts/parity.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: not a repository checkout, missing {missing}")


def run_workload(workload, seed, seconds, trace):
    classes, src_key = build.build()
    deadline = time.time() + DEADLINE_S
    os.makedirs(WORK, exist_ok=True)
    fixture = gen.generate(os.path.join(WORK, f"perfbench-s{seed}"), seed)
    work = os.path.join(WORK, f"{workload}-s{seed}-t{trace}")
    os.makedirs(work, exist_ok=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    n = cores()
    jars = build.spark_jars()
    cmd = (["java"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              # Spark's default 100-entry codegen class cache is smaller than
              # one pass's generated classes, so passes evicted each other's
              # classes and recompiled ~100 of them per pass, which made pass
              # times bimodal between runs. Sized up, the timed passes reuse
              # what the warm-up compiled (the steady state of a repeated
              # pipeline).
              f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.system.home={work}/derby",
              "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "perfbench.Harness",
              "--workload", workload, "--seconds", str(seconds),
              "--trace", str(trace), "--fixture", fixture, "--work", work,
              "--out", out, "--cpus", str(n)])
    rc = run_child(cmd, os.path.join(work, "jvm.log"), deadline - time.time() - 10)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness failed (exit {rc}); see {work}/jvm.log")
    with open(out) as f:
        res = json.load(f)

    failures = dict(res["failures"])
    if res["oracled"]:
        rc = run_child([sys.executable, os.path.join(ROOT, "scripts/parity.py"),
                        fixture, res["check_dir"]] + res["oracled"],
                       os.path.join(work, "parity.log"),
                       deadline - time.time())
        with open(os.path.join(work, "parity.log")) as f:
            for line in f:
                if line.startswith("FAIL "):
                    name = line[5:].split(":", 1)[0]
                    failures.setdefault(name, "parity: " + line.strip())
        if rc != 0 and not any(v.startswith("parity") for v in failures.values()):
            failures["parity.py"] = f"exit {rc}; see {work}/parity.log"
    res["failures"] = failures
    res["audit"] = {
        "commit": commit(), "source_hash": src_key, "seed": seed,
        "nproc": n, "heap": f"-Xms{HEAP} -Xmx{HEAP}",
        "codegen_cache_entries": CODEGEN_CACHE,
        "loadavg_start": res["loadavg_start"], "loadavg_end": res["loadavg_end"],
        "fixture": os.path.relpath(fixture, ROOT),
    }
    return res


def report(res, trace):
    """The result line's metrics: end-to-end, or per-layer when traced."""
    s = spec()
    if trace:
        layer = res.get("per_layer", {})
        return {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in s["per_layer"]}
    return {m["name"]: {"value": float(res[m["name"]]), "unit": m["unit"]}
            for m in s["end_to_end"]}


def table(seed, seconds):
    s = spec()
    names = [m["name"] for m in s["end_to_end"]]
    units = {m["name"]: m["unit"] for m in s["end_to_end"]}
    head = ["workload"] + [f"{n}[{units[n]}]" for n in names] + ["fail_ratio", "jobs", "samples"]
    print("  ".join(f"{h:>16}" for h in head))
    for w in s["workloads"]:
        res = run_workload(w["name"], seed, seconds, 0)
        fr = len(res["failures"]) / res["attempted"]
        row = [w["name"]] + [f"{res[n]:.4f}" for n in names] + [
            f"{fr:.4f}", str(len(res["jobs"])), str(res["job_samples"])]
        print("  ".join(f"{c:>16}" for c in row))
        for name, why in res["failures"].items():
            print(f"    FAILED {name}: {why}")


def main():
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--table", action="store_true",
                    help="run every workload untraced and print one row each")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    require_repo()
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    if a.table:
        table(a.seed, seconds)
        return 0
    if a.workload not in {w["name"] for w in s["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}")
    res = run_workload(a.workload, a.seed, seconds, a.trace)
    fails = res["failures"]
    print(json.dumps({"audit": res["audit"], "fail_ratio": len(fails) / res["attempted"],
                      "failures": fails, "session_cycles_s": res["session_cycles_s"],
                      "warm_passes_s": res["warm_passes_s"], "check_s": res["check_s"],
                      "run_s": time.time() - t_start, "passes": res["passes"],
                      "job_samples": res["job_samples"], "job_median_s": res["job_median_s"],
                      "spans_file": res.get("spans_file")}), file=sys.stderr)
    print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                      "failed": len(fails), "metrics": report(res, a.trace)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
