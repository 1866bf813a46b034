#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh JVM, checked outputs.

    python3 perfbench/run.py --workload board|season-staged \
        --seed N --seconds S --trace 0|1

Builds the program on first use (perfbench/build.py), takes the
board's input tables from perfbench/data or makes the season's from the
seed, runs the JVM harness in a fresh
java.io.tmpdir and output directory under perfbench/.runs (removed
afterwards), checks every output (perfbench/checks.py) and prints one
JSON line last: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. See perfbench/README.md for what each metric means.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("board", "season-staged")
# the board's input tables: a copy of the engine's sf0.01 test tables
BOARD_DATA = HERE / "data" / "sf0.01"
HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]



def per_layer():
    """(name, unit) of every per-layer metric BENCHMARK.json declares."""
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def run_jvm(classpath, run_dir, args):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dlog4j2.configurationFile=file:{HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Harness"] + args
    log = (run_dir / "jvm.log").open("w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.exit(f"harness failed ({rc}):\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    start = time.time()
    run_dir = HERE / ".runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = BOARD_DATA if a.workload == "board" else run_dir / "data"
    out = run_dir / "out"
    for d in (run_dir / "data", out, run_dir / "tmp"):
        d.mkdir(parents=True)
    try:
        result = run_dir / "result.json"
        run_jvm(classpath, run_dir, [
            "--workload", a.workload, "--data", str(data), "--out", str(out),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed), "--result", str(result)])
        record = json.loads(result.read_text())
        if a.workload == "board":
            verdicts = checks.check_board(record, data, out)
            failed_names = {n for n, v in verdicts.items() if v}
            season_bad = []
        else:
            failed_names = set()
            season_bad = checks.check_season(record, data, out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.workload == "board":
        by_dp = sum(1 for n in verdicts if n in checks.PELT_ROWS)
        print(f"board: {len(verdicts)} query outputs checked, {len(verdicts) - by_dp} "
              f"against DuckDB oracles, {by_dp} against checks.py's PELT; "
              f"{len(failed_names)} failed", file=sys.stderr)
    for n in sorted(failed_names):
        print(f"FAILED {n}: {verdicts[n]}", file=sys.stderr)
    for b in season_bad:
        print(f"INCORRECT: {b}", file=sys.stderr)
    ops = record["ops"]
    failed = sum(1 for o in ops if o["name"] in failed_names)
    if a.trace:
        layers = dict(record["layers"])
        layers["traced.wall_s"] = statistics.median(record["rounds"])
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in per_layer()}
    else:
        metrics = {
            "setup_s": {"value": int(record["setup_done_ms"]) / 1e3 - start, "unit": "s"},
            "thread_cpu_s": {"value": statistics.median(record["round_cpu"]), "unit": "s"},
            "peak_heap_mb": {"value": record["peak_heap_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": not season_bad, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
