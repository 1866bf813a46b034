#!/usr/bin/env python3
"""The benchmark's own test: one run of each workload leaves the
repository, and any directory named on the command line (for example
the sf test-data directory), byte-identical, and prints a result line
of the documented shape with zero failed operations.

    python3 perfbench/test_isolation.py [watched-dir ...]

Builds first, so the build cache under perfbench/.build (ignored by
git) is in place before the snapshot is taken.
"""
import hashlib
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))

import build  # noqa: E402


def snapshot(root):
    files = {}
    for p in sorted(root.rglob("*")):
        rel = p.relative_to(root)
        if rel.parts[:2] == ("perfbench", ".build") or rel.parts[:1] == (".git",):
            continue
        files[str(rel)] = hashlib.sha256(p.read_bytes()).hexdigest() if p.is_file() else "dir"
    return files


def main():
    build.build()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    end_to_end = {m["name"] for m in spec["end_to_end"]}
    watched = [ROOT] + [Path(d).resolve() for d in sys.argv[1:]]
    before = [snapshot(d) for d in watched]
    for workload in (w["name"] for w in spec["workloads"]):
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
             "--seconds", "1", "--trace", "0"],
            cwd=ROOT, check=True, capture_output=True, text=True, timeout=400).stdout
        result = json.loads(out.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, result
        assert set(result["metrics"]) == end_to_end, result["metrics"]
    for d, snap in zip(watched, before):
        after = snapshot(d)
        changed = sorted(k for k in snap.keys() | after.keys() if snap.get(k) != after.get(k))
        assert not changed, f"{d} changed: {changed[:10]}"
    print("ok: outputs checked, watched directories unchanged")


if __name__ == "__main__":
    main()
