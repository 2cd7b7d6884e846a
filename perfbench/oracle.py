#!/usr/bin/env python3
"""Verify and store the result hashes the query_mix workload checks.

  python3 perfbench/oracle.py

Run from the root of a checkout; needs the `duckdb` Python package. Dumps
the results of the query_mix list on the bundled tables
(perfbench/data/sf0.01) with the repo's own correctness dump
(graft.Verify), compares them with their DuckDB oracles
(SparkEntry.oracleSql) with the repo's oracle gate (tools/check_oracle.py)
and, only if every query passes, writes the benchmark's hashes of those
results to perfbench/expected_hashes.tsv.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def java(classpath, out, main, args):
    cmd = run.java_cmd(classpath, out)[:-1] + [main]  # another main class
    env = dict(os.environ, SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_SCRATCH=os.path.join(out, "scratch"))
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "a") as log:
        r = subprocess.run(cmd + args, stdout=subprocess.PIPE, stderr=log,
                           text=True, env=env, timeout=900)
    if r.returncode != 0:
        raise RuntimeError(f"{main} failed; see {out}/jvm.log")
    return r.stdout


def main():
    classpath = build.build()
    out = os.path.abspath(os.path.join(build.BUILD_DIR, "oracle"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    data = os.path.abspath(run.DATA_DIR)
    results = os.path.join(out, "results")
    mix = java(classpath, out, "perfbench.Main", ["--mix-queries"]).split()[-1]
    java(classpath, out, "graft.Verify", [data, results, mix])
    # check_oracle.py fails every declared oracle without a dump: keep the mix's
    path = os.path.join(results, "oracle_sql.json")
    with open(path) as fh:
        oracles = json.load(fh)
    with open(path, "w") as fh:
        json.dump({q: oracles[q] for q in mix.split(",") if q in oracles}, fh)
    missing = [q for q in mix.split(",") if q not in oracles]
    if missing:
        print(f"no oracle SQL for {', '.join(missing)}; hashes not stored")
        return 1
    if subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"),
                       data, results]).returncode != 0:
        print("results do not match their oracles; hashes not stored")
        return 1
    java(classpath, out, "perfbench.Main", ["--hash-results", results, "--out", run.HASHES])
    print(f"wrote {run.HASHES}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
