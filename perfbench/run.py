"""graft benchmark: PSVM train/predict at two scales and an LLM-curation
workload, driven through graft's public APIs in one Spark JVM.

    python3 perfbench/run.py --workload svm|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the benchmark from source
(see build.py), measures set-up time over two JVM starts, runs the
workload and prints, as the last stdout line, one JSON object with keys
correct, attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True   # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("svm", "curation")
TIME_LIMIT_S = 170        # a run must end within 180 s
# JVM starts per run whose set-up time is measured: one set-up-only probe
# plus the measuring JVM (a start costs ≈6 s of the run's time budget)
SETUP_SAMPLES = 2
# the add-opens set of tools/run.sh (JDK 17 module access Spark needs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "ml.model.bytes":
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.core_util", "dedup.minhash.verify_yield", "sim.ivf.recall_at_10"):
        return "ratio"
    return "count"


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


class Jvm:
    """One benchmark JVM; stdout is read line by line so the moment
    set-up ends is stamped as it is printed."""

    def __init__(self, classpath, run_dir, args, deadline):
        log = open(os.path.join(run_dir, "jvm-%d.log" % time.monotonic_ns()), "w")
        self.log_path = log.name
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        cmd = (["java"] + ADD_OPENS + [
            "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", ":".join(classpath), "perfbench.Main"] + args)
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                     stderr=log, text=True)
        log.close()
        self.timer = threading.Timer(max(1.0, deadline - time.monotonic()), self.proc.kill)
        self.timer.start()
        self.setup_s = None
        self.result = None

    def wait(self, setup_only=False):
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH_SETUP_DONE") and self.setup_s is None:
                self.setup_s = time.monotonic() - self.t0
                if setup_only:
                    self.proc.kill()   # a probe only times set-up; its teardown is not measured
                    self.proc.wait()
                    self.timer.cancel()
                    return 0
            elif line.startswith("PERFBENCH_RESULT "):
                self.result = json.loads(line[len("PERFBENCH_RESULT "):])
        rc = self.proc.wait()
        self.timer.cancel()
        return rc

    def log_tail(self, n=40):
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}", 2)
    deadline = time.monotonic() + TIME_LIMIT_S
    root = os.getcwd()
    try:
        key, classpath = build.build(root)
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)
    # a compile on the first run may take minutes; the run's own limit starts after it
    deadline = max(deadline, time.monotonic() + TIME_LIMIT_S - 10)

    base = build.build_root(root)
    run_dir = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp", "work"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        setup = []
        if a.trace == 0:
            for _ in range(SETUP_SAMPLES - 1):
                p = Jvm(classpath, run_dir, ["--mode", "setup", "--workload", a.workload], deadline)
                if p.wait(setup_only=True) != 0 or p.setup_s is None:
                    fail("set-up probe failed:\n" + p.log_tail())
                setup.append(p.setup_s)
        jvm = Jvm(classpath, run_dir, [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", os.path.join(run_dir, "work")], deadline)
        rc = jvm.wait()
        if rc != 0 or jvm.result is None or jvm.setup_s is None:
            fail(f"benchmark JVM exited {rc} without a result:\n" + jvm.log_tail())
        with open(jvm.log_path, errors="replace") as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    res = jvm.result
    metrics = dict(res["metrics"])
    setup.append(jvm.setup_s)
    if a.trace == 0:
        metrics["setup_s"] = statistics.median(setup)
    record = dict(res["record"], setup_samples_s=setup, source_key=key,
                  git_commit=git_commit(root), command=sys.argv)
    rec_dir = os.path.join(base, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"record: {os.path.relpath(rec_path, root)}")
    print(json.dumps({
        "correct": bool(res["correct"]), "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
