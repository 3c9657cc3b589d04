#!/usr/bin/env python3
"""Smoke check of the benchmark itself, on tiny generated inputs.

    python3 perfbench/smoke.py [--full]

Run from the repository root. For every workload in BENCHMARK.json, runs
run.py with --smoke (with --full: at real size for run_seconds, printing
every metric line) untraced and traced, and asserts that the result line
has the contract's keys, that every end-to-end and per-layer metric is
emitted with its unit and a finite value, that every output check ran and
passed, and that the benchmark refuses to run (non-zero exit, no result
line) in a directory holding only BENCHMARK.json and perfbench/.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
BUILD = os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def run(args, cwd="."):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + args,
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def check_result(w, trace, r):
    assert r.returncode == 0, f"{w} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}"
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}, \
        set(res["metrics"]) ^ {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (m, got)
    checks = [l for l in lines if l.startswith("check ")]
    ops = [l for l in lines if l.startswith("op ")]
    assert checks and all(l.endswith(": ok") for l in checks), checks
    assert len(checks) >= len(ops), (checks, ops)
    print(f"ok {w} trace={trace}: {len(res['metrics'])} metrics, "
          f"{len(checks)} output checks, {res['attempted']} operations")


def main():
    full = "--full" in sys.argv[1:]
    size = ["--seconds", str(SPEC["run_seconds"])] if full else ["--seconds", "1", "--smoke"]
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace in (0, 1):
            r = run(["--workload", w, "--seed", "1", "--trace", str(trace)] + size)
            if full:
                print("".join(l + "\n" for l in r.stdout.splitlines()
                              if l.startswith(("workload ", "metric ", "fail_ratio", "self time"))), end="")
            check_result(w, trace, r)
    bare = os.path.join(BUILD, "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    assert r.returncode != 0 and "{" not in r.stdout, (r.returncode, r.stdout)
    print("ok bare directory: refused with exit", r.returncode)


if __name__ == "__main__":
    main()
