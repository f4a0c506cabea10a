"""Build graft and the benchmark harness from source.

Compiles `src/main/scala` (graft) and `graftbench/scala` (the harness)
in one pass with the Scala compiler that ships in Spark's jar directory,
into `.bench_build/graftbench/classes` of the checkout. A stamp of every
source file's content skips the build when nothing changed.

    python3 graftbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")
SRC_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """Spark's jar directory: under SPARK_HOME, else under the first
    `<home>/bin` on PATH that holds spark-submit beside a `<home>/jars`."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory found (set SPARK_HOME)")


def _files(root, suffix=None):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return the classes directory, compiling first if the sources changed."""
    if not os.path.isdir(SRC_DIRS[0]):
        raise SystemExit(f"build: graft sources not found at {SRC_DIRS[0]}")
    sources = [f for d in SRC_DIRS for f in _files(d, ".scala")]
    resources = _files(RESOURCES) if os.path.isdir(RESOURCES) else []
    stamp = _stamp(sources + resources)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    jars = spark_jars()
    cp = os.pathsep.join(_files(jars, ".jar"))
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(sources)} Scala files", file=log, flush=True)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-nowarn", "-classpath", cp, "-d", tmp] + sources) + "\n")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "@" + args_file],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
