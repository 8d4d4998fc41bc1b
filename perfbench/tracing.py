"""Per-layer tracing installed from outside the engine.

The traced run wraps the public entry points of each engine layer (module
functions wherever they were imported, ``LakeTable`` methods, and the
query registry) with spans. A span records name, start, end, parent and
the benchmark op it ran under, and tags the Spark jobs the call launches
with a job group of its own, so jobs, stages and tasks can be attributed
per span afterwards: job ids through ``SparkContext.statusTracker()``,
stage times and bytes through the Spark UI REST API. Spans stay in memory
and are written out when the run ends.

Lazy calls (``quality.validate``, ``operators.dedup_by_key``,
``queries.build``) only build plans; the execution they describe is
charged to the span of the action that runs it.

After every commit (overwrite, append, merge, compact) the tracer also
accounts the table's storage from outside: it walks the table root, reads
the head manifest JSON and the new files' parquet footers (pyarrow).
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import os
import sys
import time
import urllib.request

import pyarrow.parquet as pq

PKG = "ecommerce_lakehouse_spark"

#: (span name, module, function): module-level entry points per layer
LAYER_FUNCS = (
    ("session.get_spark", f"{PKG}.session", "get_spark"),
    ("tables.load", f"{PKG}.tables", "load"),
    ("quality.validate", f"{PKG}.quality.rules", "validate"),
    ("quality.split_valid_rejected", f"{PKG}.quality.rules", "split_valid_rejected"),
    ("operators.dedup_by_key", f"{PKG}.operators.relational", "dedup_by_key"),
    ("pipelines.run_medallion", f"{PKG}.pipelines.medallion", "run_medallion"),
)
LAKE_METHODS = ("overwrite", "append", "merge", "read", "compact")
LAKE_COMMITS = ("overwrite", "append", "merge", "compact")


def _ui_time(s: str | None) -> float | None:
    """Spark UI timestamps ('2026-01-01T10:00:00.123GMT') as epoch seconds."""
    if not s:
        return None
    dt = datetime.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def lake_snapshot(root: str) -> dict:
    """Files, bytes and manifest shape of one LakeTable root, read from
    disk (no engine call)."""
    files = _files(root)
    mdir = os.path.join(root, "_manifest")
    try:
        with open(os.path.join(mdir, "_LATEST")) as f:
            head = int(f.read().strip())
        with open(os.path.join(mdir, f"v{head:08d}.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        m = {"data_dirs": []}
    live = 0
    for e in m["data_dirs"]:
        if isinstance(e, dict) and e.get("live_files") is not None:
            live += len(e["live_files"])
        else:
            path = e["path"] if isinstance(e, dict) else e
            live += sum(1 for p in files if p.startswith(path + os.sep) and p.endswith(".parquet"))
    return {
        "files": files,
        "bytes": sum(files.values()),
        "data_dirs": len(m["data_dirs"]),
        "live_files": live,
    }


class Tracer:
    """Spans + job groups + lake accounting for one traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.sc = None
        self.op_id: int | None = None
        self.phase = "setup"
        self._base_group = "pb-none"
        self.stages: list[dict] = []
        self.by_stage: dict[int, list[dict]] = {}

    # ---------------- spans ----------------

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        self._set_group(self._base_group)

    def _set_group(self, gid: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(gid, gid)

    def _current_group(self) -> str:
        groups = [s["group"] for s in self.stack if s["group"]]
        return groups[-1] if groups else self._base_group

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "phase": self.phase,
            "group": None,
            **attrs,
        }
        self.spans.append(sp)
        self.stack.append(sp)
        if self.sc is not None:
            sp["group"] = f"pb-{sp['id']}"
            self._set_group(sp["group"])
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self.stack.pop()
            self._set_group(self._current_group())

    def wrap(self, fn, name: str, **attrs):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        return traced

    # ---------------- installation ----------------

    def install(self) -> None:
        """Wrap every layer entry point, wherever it was imported."""
        import importlib

        from ecommerce_lakehouse_spark.lake.table import LakeTable
        from ecommerce_lakehouse_spark.queries import REGISTRY

        for name, modname, attr in LAYER_FUNCS:
            orig = getattr(importlib.import_module(modname), attr)
            traced = self.wrap(orig, name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PKG):
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            setattr(mod, k, traced)
        for meth in LAKE_METHODS:
            orig = getattr(LakeTable, meth)
            if meth in LAKE_COMMITS:
                setattr(LakeTable, meth, self._wrap_commit(orig, f"lake.{meth}"))
            else:
                setattr(LakeTable, meth, self.wrap(orig, f"lake.{meth}"))
        for qname, fn in list(REGISTRY.items()):
            REGISTRY[qname] = self.wrap(fn, "queries.build", query=qname)

    def _wrap_commit(self, fn, name: str):
        """Commit wrapper: the span covers the call only; the storage walk
        before and after it (and the changed-row count of an incremental
        merge, under a job group of its own) stay outside the span."""
        tracer = self

        @functools.wraps(fn)
        def traced(table, *args, **kwargs):
            before = _files(table.root)
            changed = None
            if name == "lake.merge" and table.exists() and tracer.sc is not None:
                updates = args[0] if args else kwargs["updates"]
                tracer._set_group("pb-accounting")
                changed = updates.count()
                tracer._set_group(tracer._current_group())
            with tracer.span(name, table=os.path.basename(table.root)) as sp:
                out = fn(table, *args, **kwargs)
            snap = lake_snapshot(table.root)
            new = [p for p in snap["files"] if p not in before]
            new_parquet = [p for p in new if p.endswith(".parquet")]
            sp.update(
                bytes_written=sum(snap["files"][p] for p in new),
                rows_written=sum(pq.read_metadata(p).num_rows for p in new_parquet),
                rows_changed=changed,
                table_bytes=snap["bytes"],
                data_dirs=snap["data_dirs"],
                live_files=snap["live_files"],
            )
            return out

        return traced

    # ---------------- collection ----------------

    def collect(self, spark) -> None:
        """Attach job / stage data to every span (call once, at the end)."""
        sc = spark.sparkContext
        st = sc.statusTracker()
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(f"{base}/jobs", timeout=30) as r:
            jobs = {j["jobId"]: j for j in json.load(r)}
        with urllib.request.urlopen(f"{base}/stages", timeout=30) as r:
            stages = [s for s in json.load(r) if s.get("status") in ("COMPLETE", "FAILED")]
        by_stage: dict[int, list[dict]] = {}
        for s in stages:
            s["_t0"], s["_t1"] = _ui_time(s.get("submissionTime")), _ui_time(s.get("completionTime"))
            by_stage.setdefault(s["stageId"], []).append(s)
        self.stages = stages
        for sp in self.spans:
            if not sp["group"]:
                sp["job_ids"] = []
                continue
            ids = sorted(st.getJobIdsForGroup(sp["group"]))
            sp["job_ids"] = ids
            sp["stage_ids"] = sorted(
                {sid for j in ids for sid in jobs.get(j, {}).get("stageIds", []) if sid in by_stage}
            )
        self.by_stage = by_stage

    # ---------------- derived numbers ----------------

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        return kids

    def subtree(self, sp: dict, kids: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def span_metrics(self) -> None:
        """Self time, and totals over each span's subtree of jobs, stages,
        tasks, stage bytes and the wall not covered by any stage."""
        kids = self.children()
        for sp in self.spans:
            wall = sp["end"] - sp["start"]
            sp["wall"] = wall
            sp["self"] = wall - _covered(
                [(c["start"], c["end"]) for c in kids.get(sp["id"], [])], sp["start"], sp["end"]
            )
            tree = self.subtree(sp, kids)
            # a stage reused by a later job is listed in both jobs: count it once
            sids = {sid for s in tree for sid in s.get("stage_ids", [])}
            attempts = [a for sid in sids for a in self.by_stage[sid]]
            sp["jobs"] = sum(len(s["job_ids"]) for s in tree)
            sp["stages"] = len(attempts)
            sp["tasks"] = sum(a.get("numTasks", 0) for a in attempts)
            for key, field in (
                ("input_bytes", "inputBytes"),
                ("shuffle_read_bytes", "shuffleReadBytes"),
                ("shuffle_write_bytes", "shuffleWriteBytes"),
            ):
                sp[key] = sum(a.get(field, 0) for a in attempts)
            sp["spill_bytes"] = sum(
                a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0) for a in attempts
            )
            sp["driver_gap_s"] = wall - _covered(
                [(a["_t0"], a["_t1"]) for a in attempts if a["_t0"] and a["_t1"]],
                sp["start"], sp["end"],
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, default=str)

