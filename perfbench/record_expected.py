#!/usr/bin/env python3
"""Re-record perfbench/expected_fingerprints.tsv, the registry workload's
expected results. Run from the root of a graft checkout:

    python3 perfbench/record_expected.py

It covers the queries of CoreQueries, the queries registry-light runs. For
each scale factor it dumps them with graft.Verify,
requires tools/check_oracle.py (the DuckDB oracle) to pass every one, then
records each query's result fingerprint at local[4] and at local[1] and
requires the two to agree. Only then is the file rewritten.
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run    # noqa: E402

HEADER = [
    "# sf\tquery\tfingerprint (row count:hex sum of XXH64 over each row's UnsafeRow bytes)",
    "# Recorded by perfbench/record_expected.py on perfbench/regdata.py data; every query "
    "passed tools/check_oracle.py at both scale factors, and the fingerprints were equal at "
    "local[1] and local[4].",
]


def record(cp, data, work, cores):
    os.makedirs(work, exist_ok=True)
    rc, out = run.java(cp, ["record", "--cores", cores, "--work", work, "--data", data,
                            "--sfs", ",".join(run.REGISTRY_SFS), "--queries", "core"],
                       work, os.path.join(work, "jvm.log"), 1200, stdout=subprocess.PIPE)
    if rc != 0:
        sys.exit(f"record at local[{cores}] failed:\n{run.log_tail(os.path.join(work, 'jvm.log'))}")
    return out.decode().splitlines()


def main():
    cp = build.ensure_built()
    data = run.registry_data()
    work = os.path.join(build.BUILD, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    lines = record(cp, data, os.path.join(work, "c4"), "4")
    if lines != record(cp, data, os.path.join(work, "c1"), "1"):
        sys.exit("fingerprints differ between local[1] and local[4]")
    names = sorted({l.split("\t")[1] for l in lines})
    for sf in run.REGISTRY_SFS:
        dump = os.path.join(work, f"verify-{sf}")
        r = subprocess.run(["java"] + run.JVM_OPTS + ["-cp", cp, "graft.Verify",
                            os.path.join(data, sf), dump, ",".join(names)],
                           cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
        if r.returncode != 0:
            sys.exit(f"graft.Verify failed at {sf}")
        r = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check_oracle.py"),
                            os.path.join(data, sf), dump, ",".join(names)],
                           capture_output=True, text=True)
        print(r.stdout.splitlines()[-1] if r.stdout else r.stderr)
        if r.returncode != 0 or " 0 fail" not in r.stdout:
            sys.exit(f"oracle check failed at {sf}")
    with open(run.EXPECTED, "w") as f:
        f.write("\n".join(HEADER + lines) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(lines)} fingerprints to {run.EXPECTED}")


if __name__ == "__main__":
    main()
