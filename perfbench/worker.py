"""One benchmark run in a fresh process: set up, measure, check, report.

Started by run.py, which pins the environment; writes its result as JSON
to ``--result``. ``setup_s`` runs from the first line of this file to the
end of the workload's set-up (package import, session, inputs, bulk loads
and one untimed warm-up op).
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())


class Ctx:
    def __init__(self, args, spark, tracer):
        self.seed = args.seed
        self.sf = args.sf
        self.work = args.work
        self.spark = spark
        self.tracer = tracer
        self.log_lines: list[str] = []

    def log(self, msg: str) -> None:
        self.log_lines.append(msg)
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the gateway process is the JVM itself)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - a JVM that does not exit is killed
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    import metrics
    import workloads

    tracer = None
    if args.trace:
        from tracing import Tracer

        import ecommerce_lakehouse_spark.pipelines.medallion  # noqa: F401 - wrapped below
        import ecommerce_lakehouse_spark.queries  # noqa: F401

        tracer = Tracer()
        tracer.install()
    import ecommerce_lakehouse_spark as els

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        })
    t_import = time.perf_counter() - T0
    spark = els.get_spark("perfbench", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.attach(spark)
            with tracer.span("session.first_job"):
                spark.range(1).count()
        else:
            spark.range(1).count()
        t_session = time.perf_counter() - T0
        ctx = Ctx(args, spark, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - T0
        ctx.log(f"setup phases: import {t_import:.2f} s, session {t_session - t_import:.2f} s, "
                f"workload {setup_s - t_session:.2f} s")

        if tracer is not None:
            tracer.phase = "measure"
        window = (time.time(), None)
        wl.run(args.seconds)
        window = (window[0], time.time())
        if tracer is not None:
            tracer.phase = "check"
        wl.check()

        e2e = metrics.e2e(wl.ops, wl.primary, setup_s)
        result = {
            "workload": args.workload,
            "attempted": len(wl.ops),
            "failed": sum(1 for o in wl.ops if not o["ok"]),
            "e2e": e2e,
            "workload_e2e": metrics.workload_e2e(
                args.workload, wl.ops, wl.primary, e2e, wl.summary()
            ),
            "log": ctx.log_lines,
            "ops": wl.ops,
        }
        if tracer is not None:
            tracer.collect(spark)
            tracer.span_metrics()
            result["per_layer"] = metrics.per_layer(
                tracer, wl.ops, window, cores, jvm_peak_rss_mb(spark)
            )
            result["read_jobs_by_cycle"] = read_jobs_by_cycle(tracer, wl.ops)
            tracer.dump(os.path.join(args.work, "trace.json"))
    finally:
        stop_spark(spark)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def read_jobs_by_cycle(tracer, ops) -> list[tuple]:
    """(cycle, lake.read jobs in that cycle's fresh read) for cdc_upserts."""
    out = []
    for o in ops:
        if o["kind"] == "fresh_read" and "read_spans" in o:
            a, b = o["read_spans"]
            jobs = sum(s["jobs"] for s in tracer.spans[a:b] if s["name"] == "lake.read")
            out.append((o["cycle"], jobs))
    return out


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        sys.exit(1)
