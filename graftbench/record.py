#!/usr/bin/env python3
"""Re-records what the benchmark checks data-plane outputs against: the row
count and digest of every line the suite and pipeline workloads time at
BENCHMARK.json's run length, at the timed table scale and at the smoke-test
scale. Each workload runs twice per scale, as the benchmark runs it, and
both runs must agree. Rewrites the "expect" block of graftbench/workloads.json.

    python3 graftbench/record.py

Takes about five minutes on a 4-core machine. Re-record only when a change
is meant to alter line outputs, and say so in the change.
"""
import json
import os

import run


def main():
    with open(run.SPEC) as f:
        spec = json.load(f)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    cp = run.build()
    for scale in (spec["scale"], "sf0.001"):
        expect = {}
        for workload in ("suite", "pipeline"):
            a, b = (run.run_workload(cp, spec, workload, scale, seconds, 0, timeout=600)
                    for _ in range(2))
            for la, lb in zip(a["lines"], b["lines"]):
                name = la["name"]
                e = {k: la[k] for k in ("rows", "hs", "hx")}
                if la["error"] or lb["error"] or e != {k: lb[k] for k in ("rows", "hs", "hx")}:
                    raise SystemExit(f"record: {name} failed or differs between runs: {la} {lb}")
                expect[name] = e
        spec["expect"][scale] = expect
    with open(run.SPEC, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
