"""Build file of the benchmark harness.

Compiles graft's `src/main/scala` together with `perfbench/harness/src` into
`.bench_build/classes`, using the Scala compiler that ships in Spark's jar
directory (the same directory the repo's build.sbt compiles against), so no
build tool or dependency download is needed. A stamp over every source makes
later calls a no-op until a source changes.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.exists(sbt):
            raise BuildError(f"no build.sbt at {ROOT}: not a graft checkout")
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError(f"Spark jar directory {d} does not exist")
    return d


def _sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness", "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {r}")
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def _resources():
    r = os.path.join(ROOT, "src", "main", "resources")
    return r if os.path.isdir(r) else None


def _stamp(files, resources):
    h = hashlib.sha256()
    extra = []
    if resources:
        for d, _, fs in os.walk(resources):
            extra += [os.path.join(d, f) for f in fs]
    for f in files + sorted(extra):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    jars = spark_jars()
    return os.pathsep.join([CLASSES, os.path.join(jars, "*")])


def source_stamp():
    return _stamp(_sources(), _resources())


def ensure_built(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    files = _sources()
    resources = _resources()
    stamp = _stamp(files, resources)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath()
    jars = os.path.join(spark_jars(), "*")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + files
    print(f"[perfbench] compiling {len(files)} Scala sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout.decode(errors="replace")[-4000:])
    if resources:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath()


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
