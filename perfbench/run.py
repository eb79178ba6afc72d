#!/usr/bin/env python3
"""Embargo benchmark: build the program from source, run one workload, print
one JSON result line.

    python3 perfbench/run.py --workload embargo_day --seed 1 --seconds 16 --trace 0

Run from the checkout root. The program (src/main/scala) and the harness
(perfbench/src) are compiled together by perfbench/build.py into
.bench_build/; inputs are generated by seed into .bench_data/ and reused;
every run starts from an empty .bench_run/. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("embargo_day", "submit_loop")
RUN_DIR = ".bench_run"
DATA_DIR = ".bench_data"
JVM_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def oracle_check(result):
    """Compares each embargo query's rows with its DuckDB oracle SQL over the
    same generated tables (traced runs); a mismatch is a failed operation."""
    path = os.path.join(RUN_DIR, "layers", "queries.json")
    with open(path) as f:
        dumped = json.load(f)
    try:
        import duckdb
    except ImportError:
        print("perfbench: duckdb is not importable; query oracle check not run",
              file=sys.stderr)
        return
    con = duckdb.connect()
    for t in ("events", "customer"):
        pq = os.path.join(RUN_DIR, "layers", "sf", f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pq}')")
    for name, d in sorted(dumped.items()):
        want = sorted(tuple("null" if v is None else str(v) for v in r)
                      for r in con.execute(d["sql"]).fetchall())
        got = sorted(tuple(r) for r in d["rows"])
        result["attempted"] += 1
        if got != want or not got:
            result["failed"] += 1
            result["correct"] = False
            print(f"[perfbench] check failed: {name}: {len(got)} rows, oracle {len(want)}",
                  file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    # inputs are cached per seed and per build: a changed generator (or
    # program) never reads inputs an older one wrote
    with open(os.path.join(build.OUT, "stamp")) as f:
        data = os.path.join(DATA_DIR, f.read()[:16])
    if os.path.isdir(DATA_DIR):
        for d in os.listdir(DATA_DIR):
            if os.path.join(DATA_DIR, d) != data:
                shutil.rmtree(os.path.join(DATA_DIR, d))
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    # a fixed heap keeps heap resizing out of the figures; no perf-data file in /tmp
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + build.ADD_OPENS
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), data])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "spark-local"))
    log_path = os.path.join(RUN_DIR, "jvm.log")
    with open(log_path, "wb") as log:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
    lines = p.stdout.decode("utf-8", "replace").strip().splitlines()
    if p.returncode != 0 or not lines:
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode("utf-8", "replace"))
        fail(f"benchmark JVM exited with {p.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"unparseable result line: {lines[-1][:200]}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result has keys {sorted(result)}")
    with open(log_path, "rb") as f:
        for ln in f.read().decode("utf-8", "replace").splitlines():
            if ln.startswith("[perfbench]"):
                print(ln, file=sys.stderr)
    if a.trace:
        # what the program left in its temp areas once its JVM had exited
        dirs, size = 0, 0
        for d in ("tmp", "spark-local", os.path.join("public", ".split_tmp")):
            top = os.path.join(RUN_DIR, d)
            if os.path.isdir(top):
                dirs += len(os.listdir(top))
                for r, _, fs in os.walk(top):
                    size += sum(os.path.getsize(os.path.join(r, f)) for f in fs)
        result["metrics"]["fs.tmp_leak_dirs"] = {"value": dirs, "unit": "count"}
        result["metrics"]["fs.tmp_leak_mb"] = {"value": size / 1e6, "unit": "MB"}
        oracle_check(result)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
