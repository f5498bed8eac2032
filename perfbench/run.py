#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness first (see build.py), then runs the
workload in one JVM on `local[<nproc>]`, with the class-data archive
the build recorded. Every input and artifact lives
under a fresh run root in .bench_build/perfbench/runs/, removed at exit.
With --trace 1 the span file is kept under .bench_build/perfbench/traces/.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1; a layer a workload does not run reads 0).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import build

RUN_LIMIT_S = 175


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    spec = json.loads((build.REPO / "BENCHMARK.json").read_text())
    jar, archive = build.build()
    started = time.monotonic()

    base = build.OUT
    run_root = base / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    (run_root / "tmp").mkdir(parents=True)
    traces = base / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    spans = traces / f"{args.workload}-seed{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    out = run_root / "result.json"
    cores = len(os.sched_getaffinity(0))
    cmd = build.java(jar, run_root, f"-XX:SharedArchiveFile={archive}") + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--cores", str(cores), "--out", str(out), "--spans", str(spans)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_root / "spark-local"))
    # a terminated benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=sys.stderr)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: workload ran past its time limit")
        if code != 0 or not out.is_file():
            sys.exit(f"perfbench: workload exited with code {code}")
        res = json.loads(out.read_text())
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)

    kind = "per_layer" if args.trace == "1" else "end_to_end"
    got = res["metrics"]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in got]
    if kind == "end_to_end" and missing:
        sys.exit(f"perfbench: no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    if args.trace == "1":
        print(f"perfbench: spans in {spans}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
