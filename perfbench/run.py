#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

  python3 perfbench/run.py --workload scan|ingest|query_mix --seed N \
      --seconds S --trace 0|1

Run from the root of a checkout. The program and the benchmark are
compiled first when their sources changed (see build.py). Each run gets a
fresh directory under .bench_build/runs for the JVM temp dir, the engine's
scratch dir and Spark's local dir, and removes it when it ends. With
--trace 1 the spans of the traced window are kept under
.bench_build/traces.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scan", "ingest", "query_mix")
DATA_DIR = os.path.join("perfbench", "data", "sf0.01")
HASHES = os.path.join("perfbench", "expected_hashes.tsv")
RUN_LIMIT_S = 170  # a run must end within 180 s

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def java_cmd(classpath, run_dir, heap="3g"):
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"]


def run_jvm(cmd, run_dir, deadline):
    """Run the JVM in its own process group; return (rc, stdout lines)."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(run_dir, "scratch"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.abspath(os.path.join(run_dir, "scratch")))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         env=env, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(10, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, []
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
    return p.returncode, out.splitlines()


def errors(path, n=20):
    """The JVM log's error lines, without stack frames."""
    try:
        with open(path) as fh:
            lines = [l for l in fh if not l.startswith(("\tat ", "\t\tat ", "\t..."))]
    except OSError:
        return ""
    return "".join([l for l in lines if "Exception" in l or "Error" in l][:n] + lines[-n:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM unwind through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    for need in (DATA_DIR, HASHES):
        if not os.path.exists(need):
            print(f"[perfbench] missing {need}", file=sys.stderr)
            return 2

    run_dir = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{a.workload}_{a.seed}_{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    cmd = java_cmd(classpath, run_dir) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir,
        "--data-dir", os.path.abspath(DATA_DIR), "--hashes", HASHES]
    if a.trace:
        cmd += ["--spans", os.path.join(build.BUILD_DIR, "traces",
                                        f"{a.workload}-seed{a.seed}.jsonl")]
    # a build (first run in a checkout) does not count against the limit
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        rc, lines = run_jvm(cmd, run_dir, deadline)
        log_tail = errors(os.path.join(run_dir, "jvm.log"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines), file=sys.stderr)
        print(log_tail, file=sys.stderr)
        why = "timed out" if rc is None else f"exit code {rc}" if rc else "no result line"
        print(f"[perfbench] run failed: {why}", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
