#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload <batch|ais_stream>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program and the harness are built
from source on first use (see benchlib/build.py). Every run works in a
fresh directory under ``.bench_build/`` that is removed afterwards. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``); a traced run
also writes its spans under ``.bench_build/results/``. ``--seconds`` sets
how long the stream is fed; ``batch`` always runs one cycle. The exit code
is non-zero when a correctness gate fails or the run cannot complete.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import build, gen, metrics, oracle  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
# a traced run's span file is kept here
RESULTS_DIR = os.path.join(BUILD_DIR, "results")
DEADLINE_S = 170.0

# Workload sizes; BENCHMARK.json's `why` lines quote them.
QUERY_SF = 0.01
ETL_ROWS = 64_000
AIS = {"rate": 4.0, "min_files": 100, "vessels": 400, "report_every": 4,
       "dark_share": 0.5, "min_dark_hours": 7}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def prepare(workload, work, seed, seconds):
    """Write the workload's seeded inputs; return what the gates need."""
    if workload == "batch":
        gen.tables(os.path.join(work, "tiny"), seed, 0.001)
        csv = gen.etl_csv(os.path.join(work, "www"), seed, ETL_ROWS)
        gen.tables(os.path.join(work, "data"), seed, QUERY_SF)
        rng = random.Random(seed)
        with open(os.path.join(work, "order.txt"), "w") as f:
            for _ in range(16):
                order = list(metrics.QUERY_NAMES)
                rng.shuffle(order)
                f.write(" ".join(order) + "\n")
        return {"csv": csv}, []
    if workload == "ais_stream":
        hours = max(AIS["min_files"], int(round(AIS["rate"] * seconds)))
        rows = gen.ais_hours(os.path.join(work, "stage"), seed, hours,
                             AIS["vessels"], AIS["report_every"],
                             AIS["dark_share"], AIS["min_dark_hours"])
        return {"rows": rows}, ["--rate", str(AIS["rate"])]
    raise SystemExit(f"unknown workload {workload}")


def run_jvm(cp, workload, work, trace, extra, budget_s):
    for d in ("tmp", "spark-local", "artifacts"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed heap cap and young generation: peak RSS follows the
           # pages the program keeps touched, not the collector's sizing
           + ["-Xmx1536m", "-Xmn256m", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dgraft.artifact.root={work}/artifacts",
              "-cp", cp, "perfbench.Main", "--workload", workload,
              "--work", work, "--trace", str(trace)] + extra)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        launch_ms = time.time() * 1000.0
        proc = subprocess.Popen(cmd + ["--launch-ms", repr(launch_ms)],
                                cwd=work, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # on a timeout, or when this process is itself told to stop
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    raw_path = os.path.join(work, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {code}:\n{tail}")
    with open(raw_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["batch", "ais_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a SIGTERM unwinds like an exception: the JVM is killed and the work
    # dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = build.missing_sources(ROOT)
    if missing:
        print(f"perfbench: not a checkout of the program (missing "
              f"{', '.join(missing)} under {ROOT})", file=sys.stderr)
        return 2
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp = build.classpath(ROOT, BUILD_DIR, os.path.join(BUILD_DIR, "sbt.log"))

    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=BUILD_DIR)
    try:
        t_prep = time.time()
        expect, extra = prepare(args.workload, work, args.seed, args.seconds)
        t_jvm = time.time()
        raw = run_jvm(cp, args.workload, work, args.trace, extra,
                      DEADLINE_S - (t_jvm - t_prep))
        jvm_s = time.time() - t_jvm
        t_gate = time.time()
        gate_errors = oracle.gates(args.workload, raw, expect, work)
        gate_s = time.time() - t_gate
        if not gate_errors:
            e2e, layers, report = metrics.compute(args.workload, raw, expect)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(raw["failures"])
    attempted = max(int(raw["attempted"]), 1)
    for f in raw["failures"]:
        print(f"perfbench: op failed: {f['op']}: {f['error']}", file=sys.stderr)
    if gate_errors:
        for g in gate_errors:
            print(f"perfbench: GATE FAILED: {g}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1
    if args.trace:
        path = os.path.join(RESULTS_DIR,
                            f"spans-{args.workload}-seed{args.seed}.json")
        os.makedirs(RESULTS_DIR, exist_ok=True)
        with open(path, "w") as f:
            json.dump(raw["spans"], f)
        print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}",
              file=sys.stderr)
    report["fail_frac"] = (failed / attempted, "ratio")
    report["run_s"] = (time.time() - t_start, "s")
    report["prep_s"] = (t_jvm - t_prep, "s")
    report["jvm_s"] = (jvm_s, "s")
    report["workload_s"] = (raw["workload_s"], "s")
    report["gate_s"] = (gate_s, "s")
    print("perfbench " + args.workload + ": " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in sorted(report.items())))
    chosen = layers if args.trace else e2e
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
