#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload iterative_chain --seed 1 --seconds 10 --trace 0

It builds graft and the benchmark from source on first use (sbt, offline),
runs the workload in one driver JVM, checks the outputs, prints a report and
then, as the last line, {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
--record writes the observed batch digests into expected.json (used once,
after the DuckDB oracle cross-check in oracle_check.py).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("iterative_chain", "reference_stream")
JVM_TIMEOUT_S = 170

# The flags graft's build.sbt gives a forked run: JDK 17 module opens for
# Spark, UTC, no UI, and a code cache large enough for per-plan codegen.
# The heap is fixed at 1 GB (graft's own runs allow 8 GB) to bound a run's
# memory on a shared machine; the memory metric counts live data, not heap.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xms1g", "-Xmx1g", "-XX:ReservedCodeCacheSize=2g", "-XX:+UseCodeCacheFlushing",
    "-XX:-UsePerfData"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log("[perfbench] building graft and the benchmark with sbt ...")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline: resolve from the local caches only, as graft's own build does
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    offline = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos +
               " -Dsbt.offline=true -Xmx2g") if os.path.exists(repos) else "-Xmx2g"
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               SBT_OPTS=os.environ.get("SBT_OPTS", offline) + " -Djava.io.tmpdir=" + tmp)
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env)
    with open(os.path.join(BUILD, "sbt.log")) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and "perfbench" in l and ":" in l]
    if rc != 0 or not cp:
        log("[perfbench] build failed; see perfbench/.build/sbt.log")
        sys.exit(1)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log("[perfbench] no graft sources next to perfbench/; run from a graft checkout")
        sys.exit(1)
    cp = classpath()

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(BENCH, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "result.json")
    t0_ms = int(time.time() * 1000)
    cmd = ["java"] + JVM_FLAGS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + work,
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out, "--t0", str(t0_ms),
        "--expected", os.path.join(BENCH, "expected.json")]
    if a.record:
        cmd.append("--record")
    jvm_log = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(jvm_log, "w") as logf:
        # few malloc arenas: glibc's per-thread arenas otherwise add
        # 64 MB steps to the JVM's RSS (the peak_rss_mb report line)
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = -1
    if rc != 0 or not os.path.exists(out):
        log(f"[perfbench] run failed (exit {rc}); see {jvm_log}")
        sys.exit(1)
    with open(out) as f:
        res = json.load(f)
    if a.trace:
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            shutil.copy(trace, os.path.join(results, f"{a.workload}-seed{a.seed}-spans.json"))
    if a.record and "recorded" in res:
        path = os.path.join(BENCH, "expected.json")
        pinned = json.load(open(path)) if os.path.exists(path) else {"queries": {}}
        pinned["queries"].update(res["recorded"])
        with open(path, "w") as f:
            json.dump(pinned, f, indent=1, sort_keys=True)
            f.write("\n")
    shutil.rmtree(work, ignore_errors=True)

    for line in res.get("report", []):
        print("# " + line)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
