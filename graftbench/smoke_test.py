#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the sf0.001 tables and a 20-trial
experiment: every workload, untraced and traced, must exit 0 and print a
result line whose metric names and units are exactly those BENCHMARK.json
declares, with outputs checked correct. Also checks that the benchmark
refuses to run (non-zero exit, no result line) in a directory holding only
BENCHMARK.json and the benchmark's own files.

    python3 graftbench/smoke_test.py

Takes about four minutes on a 4-core machine.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(cwd, *args):
    return subprocess.run([sys.executable, os.path.join(cwd, "graftbench", "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=900)


def check_result(workload, trace, p, declared):
    where = f"{workload} --trace {trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {sorted(res)}"
    assert res["correct"] is True and res["failed"] == 0, f"{where}: {res}\n{p.stderr[-3000:]}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, f"{where}: {res}"
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    assert got == want, f"{where}: metrics {got} != declared {want}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), f"{where}: {k}={v}"
        if trace == 0:
            assert v["value"] > 0, f"{where}: end-to-end metric {k} is {v['value']}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload in [w["name"] for w in bench["workloads"]]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            p = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", str(bench["run_seconds"]),
                    "--trace", str(trace), "--scale", "sf0.001", "--trials", "20")
            check_result(workload, trace, p, declared)
            print(f"ok  {workload} --trace {trace}", flush=True)

    bare = tempfile.mkdtemp(prefix="smoke-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("target"))
        p = run(bare, "--workload", "suite", "--seed", "1", "--seconds", "15", "--trace", "0")
        assert p.returncode != 0, "a directory without the repository must not run"
        assert not p.stdout.strip(), f"no result line expected, got {p.stdout!r}"
        print("ok  refuses a directory without the repository")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
