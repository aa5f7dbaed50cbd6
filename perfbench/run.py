#!/usr/bin/env python3
"""graft benchmark: run one workload for a seed, check its outputs, print
its metrics.

    python3 perfbench/run.py --workload live-backlog --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first call builds the harness
(perfbench/build.py) into .bench_build/. The last line of stdout is one JSON
object: correct, attempted, failed and metrics (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). The line before it
describes the run. Exit code 0 means every output check passed. The
workloads, metric names and units are the ones BENCHMARK.json lists.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import regdata  # noqa: E402

DEADLINE_S = 170        # a run must end within 180 s, not counting a first build
JVM_HEAP = "2g"
# The JVM options of the repo's `sbt run` (build.sbt), with a fixed heap.
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{JVM_HEAP}",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:PerMethodRecompilationCutoff=-1",
    "-XX:PerBytecodeRecompilationCutoff=-1",
    "-XX:-DontCompileHugeMethods",
    "-XX:-UsePerfData",     # no hsperfdata file outside the checkout
]
REGISTRY_SFS = {"sf0.01": 0.01, "sf0.001": 0.001}
EXPECTED = os.path.join(HERE, "expected_fingerprints.tsv")


def benchmark():
    """BENCHMARK.json: the workloads and the metrics with their units."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def java(cp, main_args, work, log_path, budget_s, stdout=subprocess.DEVNULL):
    """Run the harness JVM in its own process group; kill it past the budget."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(work, "scratch"), TMPDIR=tmp)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                 "graftbench.BenchMain"] + main_args
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=stdout, stderr=log, cwd=work, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, None
    return p.returncode, out


def log_tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def registry_data():
    data = os.path.join(build.BUILD, "data")
    for name, sf in REGISTRY_SFS.items():
        regdata.ensure(os.path.join(data, name), sf)
    return data


def commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def result_line(res, trace, bench):
    """The contract line: every metric of the requested set, with its unit."""
    wanted = bench["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    out, missing = {}, []
    for m in wanted:
        name, unit = m["name"], m["unit"]
        v = got.get(name)
        if v is None and trace:
            v = 0.0     # this layer is not on the workload's path
        if v is None or not math.isfinite(v) or (not trace and v <= 0):
            missing.append(name)
            continue
        out[name] = {"value": v, "unit": unit}
    return out, missing


def main(argv=None):
    try:
        bench = benchmark()
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", default="4", help="Spark local[N] cores")
    ap.add_argument("--keep", action="store_true", help="keep the run's working directory")
    a = ap.parse_args(argv)

    try:
        cp = build.ensure_built()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")
    data = registry_data() if a.workload.startswith("registry") else None
    started = time.time()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_file = os.path.join(work, "result.json")
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", a.cores, "--work", work, "--out", out_file,
            "--trace-file", os.path.join(build.BUILD, f"trace-{a.workload}-{a.seed}.jsonl")]
    if data:
        args += ["--data", data, "--expected", EXPECTED]
    log = os.path.join(work, "jvm.log")
    rc, _ = java(cp, args, work, log, DEADLINE_S - (time.time() - started))
    if rc != 0 or not os.path.exists(out_file):
        tail = log_tail(log)
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}; log tail:\n{tail}", 1)
    with open(out_file) as f:
        res = json.load(f)
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)

    line, missing = result_line(res, bool(a.trace), bench)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if missing:
        print(f"[perfbench] metrics missing or not positive: {missing}", file=sys.stderr)
    correct = failed == 0 and attempted > 0 and not missing
    describe = dict(res["describe"], commit=commit(), source_sha256=build.source_stamp(),
                    error_frac=failed / max(1, attempted), wall_s=round(time.time() - started, 3))
    print("# run " + json.dumps(describe, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": line}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
