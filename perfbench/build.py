"""Compiles graft (src/main/scala) and the benchmark (perfbench/src) with the
Scala compiler that ships in Spark's jars directory, into a build directory
keyed by a hash of every source file. Stale classes are never measured: a
changed source gives a new key and a fresh compile.

Usable on its own: python3 perfbench/build.py  (prints the classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def build_root(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def _sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars_dir():
    """Spark's jars directory: $SPARK_HOME/jars, else the first `jars/` beside
    a `bin/spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("Spark not found: set SPARK_HOME or put Spark's bin/ on the PATH")


def _scalac(out_dir, jars_dir, classpath, sources, log):
    compiler = [os.path.join(jars_dir, f"scala-{n}-{SCALA_VERSION}.jar")
                for n in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in compiler):
        raise BuildError(f"scala {SCALA_VERSION} compiler jars not found in {jars_dir}")
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", ":".join(classpath), "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as lf:
            raise BuildError(f"scalac failed (exit {rc}):\n" + lf.read()[-4000:])
    os.rename(tmp, out_dir)


def _hash(root, files, salt):
    h = hashlib.sha256(salt.encode())
    for p in files:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root):
    """Returns the classpath list: benchmark classes, graft classes, Spark jars."""
    graft_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(graft_src):
        raise BuildError(f"no graft sources at {graft_src}: run from the repository root")
    graft_files, bench_files = _sources(graft_src), _sources(bench_src)
    if not graft_files or not bench_files:
        raise BuildError("graft or benchmark sources missing")
    graft_key = _hash(root, graft_files, SCALA_VERSION)
    key = _hash(root, bench_files, graft_key)
    base = build_root(root)
    graft_dir = os.path.join(base, "graft-" + graft_key)
    bench_dir = os.path.join(base, "bench-" + key)
    jars_dir = spark_jars_dir()
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    os.makedirs(base, exist_ok=True)
    if not os.path.isdir(graft_dir):
        _scalac(graft_dir, jars_dir, jars, graft_files, graft_dir + ".log")
    if not os.path.isdir(bench_dir):
        _scalac(bench_dir, jars_dir, [graft_dir] + jars, bench_files, bench_dir + ".log")
    # drop builds of other source versions so the build directory stays bounded
    keep = {os.path.basename(p) + ext for p in (graft_dir, bench_dir) for ext in ("", ".log")}
    for d in os.listdir(base):
        if d.startswith(("graft-", "bench-")) and d not in keep:
            path = os.path.join(base, d)
            shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)
    return key, [bench_dir, graft_dir, os.path.join(jars_dir, "*")]


if __name__ == "__main__":
    try:
        print(":".join(build(os.getcwd())[1]))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
