#!/usr/bin/env python3
"""Cross-checks a batch workload's outputs against graft's DuckDB oracle.

Usage (from the root of a graft checkout):

    python3 perfbench/oracle_check.py iterative_chain

It writes the workload's generated input tables, dumps each query's result
with graft.Verify and compares them with SparkEntry.oracleSql through
tools/check_oracle.py. Run it once whenever expected.json is re-recorded
(run.py --record): the pinned digests are only as good as this check.
"""
import os
import shutil
import subprocess
import sys

import run


def main():
    workload = sys.argv[1]
    cp = run.classpath()
    work = os.path.join(run.BENCH, ".work", "oracle-" + workload)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    java = ["java"] + run.JVM_FLAGS + ["-Djava.io.tmpdir=" + work, "-cp", cp]
    dumped = subprocess.run(java + ["perfbench.Main", "--dump", workload, data],
                            check=True, capture_output=True, text=True).stdout
    queries = [l for l in dumped.splitlines() if l.startswith("QUERIES ")][0].split()[1:]
    subprocess.run(java + ["graft.Verify", data, out] + queries, check=True,
                   stdout=subprocess.DEVNULL)
    rc = subprocess.call([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                          data, out] + queries)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
