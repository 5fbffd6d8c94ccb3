#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload interactive_qa --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh child process (``workloads.py``) under a pinned
environment, checks its answers, and prints as the last line of standard
output one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer metrics, and the full per-layer
table is written to ``.perfbench_out/``.

Exits non-zero, printing no result, when the run fails or its output lacks
a declared metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
OUT = os.path.join(ROOT, ".perfbench_out")
# Well below the 15 GB of the 4-core reference box: the library's 24g
# default let the driver JVM grow until the kernel killed it.
DRIVER_MEMORY = "1g"
# Leave the caller's 180 s limit room for tear-down.
CHILD_TIMEOUT_S = 165


def run_env(workdir: str) -> dict[str, str]:
    """The pinned environment of the child: every core of this process's
    affinity mask (``nproc`` without an OMP_NUM_THREADS override), a capped
    driver heap, the library on the Python workers' path, and every scratch
    and temp directory inside the run's own directory (the JVM's perf-data
    file, which always goes to /tmp, is switched off)."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" pyspark-shell"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def _stop_group(pgid: int) -> None:
    """Stop every process left in the child's process group (the driver
    JVM exits by itself when the child closes its gateway) and wait until
    none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_child(args, workdir: str, log_path: str) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", workdir] + (["--tiny"] if args.tiny else [])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=workdir, env=run_env(workdir),
                                stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop_group(proc.pid)
            proc.communicate()
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
            return None
        finally:
            _stop_group(proc.pid)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="toy sizes, for the self-test only")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    declared = spec["per_layer" if args.trace else "end_to_end"]

    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    workdir = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    log_path = os.path.join(OUT, f"{tag}.log")
    os.makedirs(workdir)
    try:
        res = run_child(args, workdir, log_path)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if res is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: {args.workload} failed; log in {log_path}",
              file=sys.stderr)
        return 1

    source = res["layers"] if args.trace else res["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in source]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    if args.trace:
        with open(os.path.join(OUT, f"trace-{tag}.json"), "w") as f:
            json.dump(res["layers"], f, indent=1, sort_keys=True)
        for name, value in sorted(res["layers"].items()):
            print(f"layer {name} = {value:.6g}")
    for name, value in sorted(res["metrics"].items()):
        print(f"e2e {name} = {value}")
    for what in res["failures"]:
        print(f"check failed: {what}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
