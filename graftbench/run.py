#!/usr/bin/env python3
"""Benchmark entry point: builds the harness, runs one workload in a fresh
JVM, checks its outputs, and prints one JSON result line.

    python3 graftbench/run.py --workload suite|pipeline|hpo \
        --seed N --seconds S --trace 0|1 [--scale sf0.001] [--trials N]

Run from the repository root. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; progress goes to stderr.
See graftbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(BENCH, "workloads.json")
# a run ends within this many seconds of its build
RUN_DEADLINE_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same set to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input to the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files if f.endswith((".scala", ".sbt", ".properties", ".java")))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the root build and the harness; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("graftbench: sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own scratch (its server sockets) stays inside the checkout too
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run([sbt, "-batch"] + opts + ["compile", "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    cp_lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp_lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("graftbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp_lines[-1]}, f)
    return cp_lines[-1]


def run_jvm(classpath, args, heap, timeout):
    """One run in a fresh JVM with its own tmp, local, warehouse and working
    directories, all removed afterwards. Returns the parsed result JSON."""
    os.makedirs(BUILD, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "scratch", "cwd")}
        for d in dirs.values():
            os.makedirs(d)
        out = os.path.join(run_dir, "result.json")
        cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={dirs['tmp']}", "-Dspark.ui.enabled=false",
                "--add-modules", "jdk.incubator.vector"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graftbench.Main"]
               + [f"{k}={v}" for k, v in args.items()]
               + [f"localdir={dirs['local']}", f"warehouse={dirs['warehouse']}",
                  f"scratch={dirs['scratch']}", f"out={out}",
                  f"launchms={int(time.time() * 1000)}"])
        # the program's own session overrides must not reach a timed run
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MASTER")}
        env["TMPDIR"] = dirs["tmp"]
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=dirs["cwd"], env=env, stdout=jlog,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=timeout)
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        with open(os.path.join(run_dir, "jvm.log")) as f:
            jvm_log = f.read()
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(jvm_log[-4000:])
            raise SystemExit(f"graftbench: JVM exited with {rc}")
        sys.stderr.write("".join(l + "\n" for l in jvm_log.splitlines() if l.startswith("[graftbench]")))
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def suite_stride(spec, seconds):
    """k such that every k-th suite line takes about `seconds` by the
    recorded full-suite line times. The JVM takes every k-th line of each
    layer, so each layer keeps at least one line."""
    total = sum(spec["suite"]["ref_secs"][n] for n in spec["suite"]["lines"])
    return max(1, math.ceil(total / seconds))


def run_workload(cp, spec, workload, scale, seconds, trace, timeout, seed=1, trials=0):
    """One run of a workload in a fresh JVM; returns the JVM's result."""
    if workload == "hpo":
        h = spec["hpo"]
        n = trials or max(4, round(h["trials_per_second"] * seconds))
        return run_jvm(cp, {"workload": "hpo", "trials": n, "slots": h["slots"],
                            "seed": seed, "trace": trace}, spec["heap"], timeout)
    args = {"workload": workload, "lines": ",".join(spec[workload]["lines"]),
            "stride": suite_stride(spec, seconds) if workload == "suite" else 1,
            "data": os.path.join(BENCH, "data", scale),
            "warmdata": os.path.join(BENCH, "data", spec["warm_scale"]),
            "trace": trace}
    if "warm_lines" in spec[workload]:
        args["warmlines"] = ",".join(spec[workload]["warm_lines"])
    return run_jvm(cp, args, spec["heap"], timeout)


def check(spec, scale, res):
    """(attempted, failed): data-plane lines against their recorded row
    count and digest; the hpo checks ran in the JVM."""
    if "lines" not in res:
        for k, v in res["checks"].items():
            if v is not True:
                log(f"check failed: {k}")
        return int(res["attempted"]), int(res["failed"])
    expect = spec["expect"].get(scale, {})
    failed = 0
    for line in res["lines"]:
        e = expect.get(line["name"])
        ok = line["error"] is None and e == {k: line[k] for k in ("rows", "hs", "hx")}
        if not ok:
            failed += 1
            log(f"check failed: {line['name']} got rows={line['rows']} hs={line['hs']} "
                f"hx={line['hx']} error={line['error']} expected {e}")
    return len(res["lines"]), failed


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["suite", "pipeline", "hpo"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--scale", default=None, help="table directory under data/ (default sf0.1)")
    ap.add_argument("--trials", type=int, default=0, help="hpo trial count (default from --seconds)")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directories
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _terminate)

    with open(SPEC) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        raise SystemExit("graftbench: run from a checkout of the repository (no build.sbt/src here)")
    cp = build()
    scale = args.scale or spec["scale"]
    seconds = args.seconds or bench["run_seconds"]
    res = run_workload(cp, spec, args.workload, scale, seconds, args.trace, RUN_DEADLINE_S,
                       seed=args.seed, trials=args.trials)
    if args.trace:
        # the traced run's own run_s: less an untraced run's of the same
        # seed, it is the tracing overhead
        res["metrics"]["trace.run_s"] = res["metrics"]["run_s"]
        declared = bench["per_layer"]
    else:
        declared = bench["end_to_end"]
    attempted, failed = check(spec, scale, res)
    missing = [m["name"] for m in declared if res["metrics"].get(m["name"]) is None]
    if missing:
        raise SystemExit(f"graftbench: metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))


if __name__ == "__main__":
    main()
