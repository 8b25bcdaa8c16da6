#!/usr/bin/env python3
"""Benchmark entry point for the track x grid engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root: several graded queries and the Hermine
fixture open `data/...` relative to the working directory (see
perfbench/NOTES.md). The first run in a checkout compiles the repo's main
sources plus the driver with sbt (offline) into .bench_build/; later runs
reuse that build until a source file changes. Each run starts one JVM
(Spark local mode), prints every metric with its unit, then one JSON line:
{"correct", "attempted", "failed", "metrics"}.
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

WORKLOADS = ("profile_fine", "profile_dense", "corpus_kernels")
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Digest of every input the build compiles (path, size, mtime)."""
    h = hashlib.sha256()
    roots = ["src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd="perfbench", env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    lines = open(log_path).read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        fail(f"build failed (see {log_path})", 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("src/main/scala/graft/SparkEntry.scala", "data/al092016_track.csv",
                 "BENCHMARK.json"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the repository root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    spec = json.load(open("BENCHMARK.json"))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    cp = build()
    out = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-trace{a.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    t0_ms = int(time.time() * 1000)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx1536m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp",
            "-Duser.timezone=UTC", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--t0-ms", str(t0_ms)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        rc = run_group(cmd, RUN_TIMEOUT_S, stdout=log, stderr=subprocess.STDOUT)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"run failed (exit {rc}); see {out}/jvm.log", 1)
    res = json.load(open(res_path))
    if a.trace:
        # a layer the workload does not exercise reads 0
        for m in spec["per_layer"]:
            res["metrics"].setdefault(m["name"], 0)

    info = res["info"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {info['ops_timed']} ops, "
          f"{info['passes']} passes, op_tail_s = p{info['tail_percentile']}, "
          f"results in {out}")
    if info["fixes_per_s"]:
        print(f"fixes_per_s {info['fixes_per_s']:.1f} 1/s (fixes / op_p50_s)")
    print(f"failed_ratio {info['failed_ratio']:.4f} ({res['failed']} of {res['attempted']} ops)")
    for p in info["problems"]:
        print(f"CHECK FAILED {p}")
    if info["busy_box"]:
        print(f"BUSY BOX: steal {info['box.steal_pct']:.1f}% loadavg {info['box.loadavg']:.2f}")
    for k in sorted(res["metrics"]):
        print(f"{k} {res['metrics'][k]} {units.get(k, '')}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in res["metrics"].items()
                    if k in units},
    }))


if __name__ == "__main__":
    main()
