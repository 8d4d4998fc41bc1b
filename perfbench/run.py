#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one fresh process, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_upserts --seed 1 --seconds 8 --trace 0

Workloads: medallion_etl, cdc_upserts, analyst_queries (see
perfbench/README.md). The run pins the environment (Spark on every
available core, UTC, scratch and shuffle dirs under ``.perfbench/`` in the
checkout), generates its inputs from ``--seed``, runs the workload in a
fresh worker process, prints the workload's own metrics by name and unit,
and ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
seed twice, untraced then traced, and reports the per-layer metrics plus
the tracing overhead (traced minus untraced end-to-end values).
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("medallion_etl", "cdc_upserts", "analyst_queries")
SF = 0.01  # input scale: 15k orders, 60k line items, 500 documents
WORKER_TIMEOUT_S = 165


def other_spark_jvms() -> list[int]:
    """Pids of Spark JVMs already running on this host (contention)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(d))
    return pids


def wait_group_gone(pgid: int, timeout: float = 30.0) -> None:
    """Kill whatever is left of a worker's process group and wait for it."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while time.time() < deadline:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)
        sig = signal.SIGKILL


def run_worker(args, trace: int, work: str, env: dict) -> dict | None:
    result = os.path.join(work, f"result-{trace}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--sf", str(args.sf), "--work", os.path.join(work, f"w{trace}"),
        "--result", result,
    ]
    os.makedirs(os.path.join(work, f"w{trace}"), exist_ok=True)
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker timed out after {WORKER_TIMEOUT_S} s", file=sys.stderr)
        code = None
    wait_group_gone(proc.pid)
    proc.wait()
    if code != 0 or not os.path.exists(result):
        print(f"worker failed (exit {code})", file=sys.stderr)
        return None
    with open(result) as f:
        return json.load(f)


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ecommerce_lakehouse_spark", "__init__.py")):
        print("perfbench: run from the repository root (ecommerce_lakehouse_spark/ not found)",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    others = other_spark_jvms()
    bench_dir = os.path.join(root, ".perfbench")
    work = os.path.join(bench_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (Spark's launcher too): temp files in the run dir, and
        # no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=root,
    )
    print(
        f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cores={cores} pyspark={importlib.metadata.version('pyspark')} "
        f"sf={args.sf} data_dir={os.path.relpath(work, root)}/w*/inputs "
        f"other_spark_jvms={len(others)}"
    )
    if others:
        print(f"WARNING: {len(others)} other Spark JVM(s) running (pids {others}); "
              "timings are contended")
    try:
        base = run_worker(args, 0, work, env)
        traced = run_worker(args, 1, work, env) if base is not None and args.trace else None
        if base is None or (args.trace and traced is None):
            return 1
        for line in base["log"] + (traced["log"] if traced else []):
            print(f"  log: {line}")
        print("  end-to-end (untraced run)")
        rows = dict(base["workload_e2e"])
        for name, unit in metrics.E2E.items():
            rows.setdefault(name, (unit, base["e2e"][name], ""))
        for name, (unit, value, note) in rows.items():
            print(f"  {name:44s} {fmt(value):>12} {unit:8s} {note}")
        if args.trace:
            res = traced
            layer = dict(res["per_layer"])
            for k in metrics.E2E:
                layer[f"trace_overhead.{k}"] = traced["e2e"][k] - base["e2e"][k]
            print("  per-layer (traced run)                  value  unit      should move")
            for name, (unit, moves) in metrics.PER_LAYER.items():
                print(f"  {name:44s} {fmt(layer[name]):>12} {unit:8s} {moves}")
            if res.get("read_jobs_by_cycle"):
                print(f"  lake.read jobs by cycle (fresh read): {res['read_jobs_by_cycle']}")
            out = {k: {"value": layer[k], "unit": u} for k, (u, _m) in metrics.PER_LAYER.items()}
            trace_src = os.path.join(work, "w1", "trace.json")
            if os.path.exists(trace_src):
                dst = os.path.join(bench_dir, "traces", f"{args.workload}-seed{args.seed}.json")
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(trace_src, dst)
                print(f"  spans: {os.path.relpath(dst, root)}")
        else:
            out = {k: {"value": base["e2e"][k], "unit": u} for k, u in metrics.E2E.items()}
        attempted = base["attempted"] + (traced["attempted"] if traced else 0)
        failed = base["failed"] + (traced["failed"] if traced else 0)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": out,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
