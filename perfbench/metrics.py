"""Metric definitions and their computation from ops and spans.

``E2E`` are the end-to-end metrics every workload reports (the final JSON
line of an untraced run). ``WORKLOAD_E2E`` are the workload-specific names
printed above it. ``PER_LAYER`` are the traced run's metrics, each tagged
with the end-to-end metric (and workload) it is predicted to move.
"""

from __future__ import annotations

import math
import statistics

#: name -> unit; every workload reports all of them
E2E = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "items_per_s": "1/s",
}

#: workload -> the workload's own end-to-end names, printed by run.py
WORKLOAD_E2E = {
    "medallion_etl": ("setup_s", "etl_rows_per_s", "stored_bytes_per_user_byte", "failed_op_ratio"),
    "cdc_upserts": ("setup_s", "commit_p50_s", "commit_tail_s", "fresh_read_p50_s",
                    "stored_bytes_per_user_byte", "failed_op_ratio"),
    "analyst_queries": ("setup_s", "query_p50_s", "query_tail_s", "dedup_docs_per_s",
                        "failed_op_ratio"),
}
WORKLOAD_UNITS = {
    "setup_s": "s",
    "etl_rows_per_s": "rows/s",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "fresh_read_p50_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "dedup_docs_per_s": "docs/s",
    "stored_bytes_per_user_byte": "ratio",
    "failed_op_ratio": "ratio",
}

_ETL = "etl_rows_per_s@medallion_etl"
_COMMIT = "commit_p50_s,commit_tail_s@cdc_upserts"
_READ = "fresh_read_p50_s@cdc_upserts"
_QUERY = "query_p50_s,query_tail_s,dedup_docs_per_s@analyst_queries"
_TAILS = "tail metrics of the workload they occur in"

#: name -> (unit, end-to-end metric it should move)
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s@all"),
    "session.first_job_s": ("s", "setup_s@all"),
    "tables.load_s": ("s", _ETL),
    "quality.validate_s": ("s", _ETL),
    "quality.split_valid_rejected_s": ("s", _ETL),
    "quality.rejected_rows": ("count", _ETL),
    "operators.dedup_by_key_s": ("s", _ETL),
    "pipelines.run_medallion_s": ("s", _ETL),
    "lake.overwrite_s": ("s", f"{_ETL}; stored_bytes_per_user_byte@medallion_etl"),
    "lake.append_s": ("s", f"{_ETL}; stored_bytes_per_user_byte@medallion_etl"),
    "lake.overwrite.bytes_written_per_input_byte": ("ratio", f"{_ETL}; stored_bytes_per_user_byte@medallion_etl"),
    "lake.merge_s": ("s", _COMMIT),
    "lake.merge.jobs": ("count", _COMMIT),
    "lake.merge.stages": ("count", _COMMIT),
    "lake.merge.tasks": ("count", _COMMIT),
    "lake.merge.driver_gap_s": ("s", _COMMIT),
    "lake.merge.rows_rewritten_per_row_changed": ("ratio", f"{_COMMIT}; stored_bytes_per_user_byte@cdc_upserts"),
    "lake.merge.bytes_written": ("bytes", f"{_COMMIT}; stored_bytes_per_user_byte@cdc_upserts"),
    "lake.read_s": ("s", _READ),
    "lake.read.jobs": ("count", _READ),
    "lake.manifest.data_dirs": ("count", _READ),
    "lake.live_files": ("count", _READ),
    "lake.compact_s": ("s", _READ),
    "lake.compact.bytes_rewritten": ("bytes", _READ),
    "queries.build_s": ("s", _QUERY),
    "queries.exec_s": ("s", _QUERY),
    "queries.jobs": ("count", _QUERY),
    "queries.stages": ("count", _QUERY),
    "queries.tasks": ("count", _QUERY),
    "queries.shuffle_write_bytes": ("bytes", _QUERY),
    "queries.shuffle_read_bytes": ("bytes", _QUERY),
    "queries.input_bytes": ("bytes", _QUERY),
    "queries.spill_bytes": ("bytes", _QUERY),
    "spark.task_busy_ratio": ("ratio", _TAILS),
    "spark.shuffle_fetch_wait_s": ("s", _TAILS),
    "spark.jvm_gc_s": ("s", _TAILS),
    "spark.failed_tasks": ("count", "failed_op_ratio@all"),
    "spark.jvm_peak_rss_mb": ("MB", "reported only"),
    "failed_op_ratio": ("ratio", "reported only (the end-to-end failure count)"),
    "trace_overhead.setup_s": ("s", "traced minus untraced setup_s"),
    "trace_overhead.op_geomean_s": ("s", "traced minus untraced op_geomean_s"),
    "trace_overhead.items_per_s": ("1/s", "traced minus untraced items_per_s"),
}


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(sum(xs) / len(xs)) if xs else 0.0


def failed_ratio(ops: list[dict]) -> float:
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0


def tail(xs: list[float]) -> tuple[float | None, int | None, int]:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples above it:
    (value, percentile, sample count); value None when too few samples."""
    xs = sorted(xs)
    n = len(xs)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return None, None, n
    return float(statistics.quantiles(xs, n=100, method="inclusive")[best - 1]), best, n


def e2e(ops: list[dict], primary: str, setup_s: float) -> dict[str, float]:
    """The JSON metrics. ``op_geomean_s`` is the geometric mean of the
    primary ops' walls: each op of a cycle weighs the same whatever its
    size (TPC-H's power metric), so it moves less than a median when a run
    holds a few ops of different kinds."""
    prim = [o["wall"] for o in ops if o["kind"] == primary and o["ok"]]
    items = sum(o["items"] for o in ops if o["kind"] == primary and o["ok"])
    return {
        "setup_s": setup_s,
        "op_geomean_s": math.exp(mean(math.log(w) for w in prim)) if prim else 0.0,
        "items_per_s": items / sum(prim) if prim else 0.0,
    }


def workload_e2e(name: str, ops: list[dict], primary: str, e2e_values: dict,
                 extra: dict) -> dict:
    """The workload's own end-to-end names: {name: (unit, value, note)}.
    ``extra`` holds the values only the workload can compute."""
    failed = sum(1 for o in ops if not o["ok"])
    values = {
        "setup_s": (e2e_values["setup_s"], ""),
        "failed_op_ratio": (failed_ratio(ops), f"{failed}/{len(ops)} ops"),
        "etl_rows_per_s": (e2e_values["items_per_s"], ""),
    }
    prim = [o["wall"] for o in ops if o["kind"] == primary and o["ok"]]
    tv, tp, n = tail(prim)
    tail_note = f"p{tp} of {n} samples" if tv is not None else f"n/a: {n} samples, a tail needs >= 20"
    for kind in ("commit", "query"):
        values[f"{kind}_p50_s"] = (median(prim), f"{n} {kind} samples")
        values[f"{kind}_tail_s"] = (tv, tail_note)
    values.update({k: (v, "") for k, v in extra.items()})
    return {k: (WORKLOAD_UNITS[k], *values[k]) for k in WORKLOAD_E2E[name]}


def per_layer(tracer, ops: list[dict], window: tuple[float, float], cores: int,
              jvm_peak_rss_mb: float) -> dict[str, float]:
    """Per-layer numbers from the spans of the measured phase."""
    spans = tracer.spans
    meas = [s for s in spans if s["phase"] == "measure"]

    def named(n, phase_spans=meas):
        return [s for s in phase_spans if s["name"] == n]

    def self_med(n, phase_spans=meas):
        return median(s["self"] for s in named(n, phase_spans))

    out: dict[str, float] = {}
    setup = [s for s in spans if s["phase"] == "setup"]
    out["session.get_spark_s"] = self_med("session.get_spark", setup)
    out["session.first_job_s"] = self_med("session.first_job", setup)
    for metric, span in (
        ("tables.load_s", "tables.load"),
        ("quality.validate_s", "quality.validate"),
        ("quality.split_valid_rejected_s", "quality.split_valid_rejected"),
        ("operators.dedup_by_key_s", "operators.dedup_by_key"),
        ("pipelines.run_medallion_s", "pipelines.run_medallion"),
        ("lake.overwrite_s", "lake.overwrite"),
        ("lake.append_s", "lake.append"),
        ("lake.merge_s", "lake.merge"),
        ("lake.read_s", "lake.read"),
        ("lake.compact_s", "lake.compact"),
        ("queries.build_s", "queries.build"),
    ):
        out[metric] = self_med(span)
    out["queries.exec_s"] = median(s["wall"] for s in named("queries.exec"))
    out["quality.rejected_rows"] = mean(o.get("rejected_rows") for o in ops if o["kind"] == "pipeline")

    ow = named("lake.overwrite")
    in_bytes = sum(s["input_bytes"] for s in ow)
    out["lake.overwrite.bytes_written_per_input_byte"] = (
        sum(s["bytes_written"] for s in ow) / in_bytes if in_bytes else 0.0
    )
    merges = named("lake.merge")
    for k in ("jobs", "stages", "tasks"):
        out[f"lake.merge.{k}"] = mean(s[k] for s in merges)
    out["lake.merge.driver_gap_s"] = median(s["driver_gap_s"] for s in merges)
    inc = [s for s in merges if s.get("rows_changed")]
    out["lake.merge.rows_rewritten_per_row_changed"] = (
        sum(s["rows_written"] for s in inc) / sum(s["rows_changed"] for s in inc) if inc else 0.0
    )
    out["lake.merge.bytes_written"] = mean(s["bytes_written"] for s in merges)
    out["lake.read.jobs"] = mean(s["jobs"] for s in named("lake.read"))
    commits = [s for s in meas if s["name"] in ("lake.overwrite", "lake.append", "lake.merge", "lake.compact")]
    out["lake.manifest.data_dirs"] = mean(s.get("data_dirs") for s in commits)
    out["lake.live_files"] = mean(s.get("live_files") for s in commits)
    out["lake.compact.bytes_rewritten"] = mean(s["bytes_written"] for s in named("lake.compact"))

    qops = named("op.query")
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "input_bytes", "spill_bytes"):
        out[f"queries.{k}"] = mean(s[k] for s in qops)

    lo, hi = window
    stages = [a for a in tracer.stages if a["_t0"] and lo <= a["_t0"] <= hi]
    busy = sum(a.get("executorRunTime", 0) for a in stages) / 1000.0
    out["spark.task_busy_ratio"] = busy / ((hi - lo) * cores) if hi > lo else 0.0
    out["spark.shuffle_fetch_wait_s"] = sum(a.get("shuffleFetchWaitTime", 0) for a in stages) / 1000.0
    out["spark.jvm_gc_s"] = sum(a.get("jvmGcTime", 0) for a in stages) / 1000.0
    out["spark.failed_tasks"] = float(sum(a.get("numFailedTasks", 0) for a in stages))
    out["spark.jvm_peak_rss_mb"] = jvm_peak_rss_mb
    out["failed_op_ratio"] = failed_ratio(ops)
    return out
