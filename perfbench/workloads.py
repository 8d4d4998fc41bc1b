"""The benchmark's workloads: set-up, a closed loop of timed ops with one
client, and output checks kept outside the timed intervals.

Every workload records its ops as dicts ``{"kind", "wall", "items", "ok"}``.
``kind`` names the op; the workload's *primary* kind is the one its
``op_geomean_s`` and ``items_per_s`` describe (see README.md).
"""

from __future__ import annotations

import decimal
import hashlib
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _s, names in os.walk(path) for n in names
    )


class Workload:
    """Base: subclasses set ``primary`` and implement setup/cycle/check."""

    primary = ""
    tables: tuple[str, ...] = ()
    dirty = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.inputs = os.path.join(ctx.work, "inputs")
        self.ops: list[dict] = []

    def generate(self) -> dict[str, int]:
        return datagen.generate(self.inputs, self.ctx.seed, self.ctx.sf, self.tables, self.dirty)

    def timed(self, kind: str, fn, items: int = 1, **attrs):
        """Run one op; exceptions count as failed ops, never abort the run."""
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span(f"op.{kind}", **attrs):
                    out = fn()
            else:
                out = fn()
            ok = True
        except Exception as e:  # noqa: BLE001 - counted in failed_op_ratio
            out, ok = None, False
            self.ctx.log(f"op {kind} {attrs} raised {type(e).__name__}: {e}")
        op = {"kind": kind, "wall": time.perf_counter() - t0, "items": items, "ok": ok, **attrs}
        self.ops.append(op)
        return op, out

    def run(self, seconds: float) -> None:
        """Closed loop, one client: whole cycles until the timed ops have
        taken ``seconds`` of wall in total."""
        cycle = 0
        while True:
            self.cycle(cycle)
            cycle += 1
            if sum(o["wall"] for o in self.ops) >= seconds:
                break

    def check(self) -> None:
        """End-of-run output checks (per-op checks run inside cycle())."""

    def fail(self, op: dict, why: str) -> None:
        op["ok"] = False
        self.ctx.log(f"wrong result: {op['kind']} {why}")


# ---------------------------------------------------------------- medallion


class MedallionEtl(Workload):
    """Repeated run_medallion over dirty source tables into fresh roots."""

    primary = "pipeline"
    tables = ("part", "orders", "lineitem")
    dirty = True

    def setup(self) -> None:
        from ecommerce_lakehouse_spark.pipelines.medallion import run_medallion

        self.run_medallion = run_medallion
        rows = self.generate()
        self.source_rows = sum(rows.values())
        self.source_bytes = sum(
            os.path.getsize(os.path.join(self.inputs, f"{t}.parquet")) for t in self.tables
        )
        self.expected = self.oracle_counts()
        # warm-up op on a tenth-size input: the JVM's first-run costs
        # (class loading, code generation) without a full pipeline's work
        warm_in = os.path.join(self.ctx.work, "inputs-warm")
        datagen.generate(warm_in, self.ctx.seed, self.ctx.sf / 10, self.tables, self.dirty)
        warm = os.path.join(self.ctx.work, "lake-warm")
        self.run_medallion(self.spark, warm_in, warm)
        shutil.rmtree(warm, ignore_errors=True)
        self.ratios: list[float] = []

    def oracle_counts(self) -> dict[str, tuple[int, int]]:
        """(silver rows, rejected rows) per table, by DuckDB, from the
        quality rules the pipeline declares."""
        p = lambda t: os.path.join(self.inputs, f"{t}.parquet")  # noqa: E731
        valid = {
            "part": ("p_partkey", "p_partkey IS NOT NULL AND coalesce(p_retailprice >= 0, true)"),
            "orders": (
                "o_orderkey",
                "o_orderkey IS NOT NULL AND o_custkey IS NOT NULL "
                "AND coalesce(o_totalprice >= 0, true)",
            ),
            "lineitem": (
                "l_orderkey, l_linenumber",
                "l_orderkey IS NOT NULL AND coalesce(l_quantity >= 0, true) "
                "AND coalesce(l_discount BETWEEN 0 AND 1, true) "
                f"AND (l_orderkey IS NULL OR l_orderkey IN (SELECT o_orderkey FROM '{p('orders')}')) "
                f"AND (l_partkey IS NULL OR l_partkey IN (SELECT p_partkey FROM '{p('part')}'))",
            ),
        }
        con = duckdb.connect()
        out = {}
        for t, (pk, cond) in valid.items():
            silver, rejected = con.execute(
                f"SELECT count(DISTINCT ({pk})) FILTER (WHERE {cond}), "
                f"count(*) FILTER (WHERE NOT ({cond})) FROM '{p(t)}'"
            ).fetchone()
            out[t] = (int(silver), int(rejected))
        con.close()
        return out

    def cycle(self, i: int) -> None:
        from ecommerce_lakehouse_spark.lake import LakeTable

        root = os.path.join(self.ctx.work, f"lake-{i}")
        op, result = self.timed(
            "pipeline",
            lambda: self.run_medallion(self.spark, self.inputs, root),
            items=self.source_rows,
            cycle=i,
        )
        if op["ok"]:
            op["rejected_rows"] = 0
            for t, (silver, rejected) in self.expected.items():
                got_s = result["metrics"][t]["silver_rows"]
                got_r = LakeTable(self.spark, os.path.join(root, "rejected", t)).read().count()
                op["rejected_rows"] += got_r
                if (got_s, got_r) != (silver, rejected):
                    self.fail(op, f"{t}: silver/rejected {got_s}/{got_r} != {silver}/{rejected}")
            self.ratios.append(du(root) / self.source_bytes)
        shutil.rmtree(root, ignore_errors=True)

    def summary(self) -> dict:
        return {"stored_bytes_per_user_byte": float(np.median(self.ratios)) if self.ratios else 0.0}


# --------------------------------------------------------------------- CDC

ORDER_KEY = ["o_orderkey"]
LINE_KEY = ["l_orderkey", "l_linenumber"]
BATCH_SHARE = 0.001  # ~0.1% of each table per batch
RECENT_SHARE = 0.05  # "recent" = newest 5% of order keys
COMPACT_EVERY = 2


class CdcUpserts(Workload):
    """Seeded MERGE batches into an unpartitioned and a partitioned table,
    a fresh read after each cycle, and scheduled compaction."""

    primary = "commit"
    tables = ("orders", "lineitem")

    def setup(self) -> None:
        from ecommerce_lakehouse_spark.lake import LakeTable
        from ecommerce_lakehouse_spark.tables import load

        self.generate()
        # distinct line keys: MERGE needs unique target keys
        li = pq.read_table(os.path.join(self.inputs, "lineitem.parquet")).to_pandas()
        li = li.drop_duplicates(LINE_KEY, keep="first").reset_index(drop=True)
        li["l_shipyear"] = li["l_shipdate"].dt.year.astype("int32")
        pq.write_table(pa.Table.from_pandas(li, preserve_index=False),
                       os.path.join(self.inputs, "lineitem.parquet"))
        self.orders_pd = pq.read_table(os.path.join(self.inputs, "orders.parquet")).to_pandas()
        self.lines_pd = li
        self.rng = np.random.default_rng([self.ctx.seed, 99])
        lake = os.path.join(self.ctx.work, "lake")
        self.orders = LakeTable(self.spark, os.path.join(lake, "orders"))
        self.lines = LakeTable(self.spark, os.path.join(lake, "lineitem"))
        self.orders.overwrite(load(self.spark, self.inputs, "orders"))
        self.lines.overwrite(load(self.spark, self.inputs, "lineitem"), partition_by=["l_shipyear"])
        self.lake = lake
        self.user_bytes = du(lake)
        self.batch_dir = os.path.join(self.ctx.work, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        self.cycle(-1)  # warm-up cycle: applied to the tables, not timed
        self.ops.clear()

    # ---- batches

    def _pick(self, n_rows: int, key_col: pd.Series, recent_from: int, n: int) -> np.ndarray:
        """Row indexes: mostly rows of recent orders, some uniform."""
        recent = np.flatnonzero(key_col.to_numpy() >= recent_from)
        n_recent = int(round(n * 0.8))
        a = self.rng.choice(recent, size=min(n_recent, len(recent)), replace=False)
        b = self.rng.choice(n_rows, size=n - len(a), replace=False)
        return np.unique(np.concatenate([a, b]))

    def make_batch(self, i: int) -> tuple[str, str, int, int]:
        o, li = self.orders_pd, self.lines_pd
        n_o = max(20, int(len(o) * BATCH_SHARE))
        n_l = max(20, int(len(li) * BATCH_SHARE))
        max_key = int(o["o_orderkey"].max())
        recent_from = int(max_key * (1 - RECENT_SHARE))
        # updates: status changes / late price corrections on existing rows
        ou = o.iloc[self._pick(len(o), o["o_orderkey"], recent_from, n_o - 2)].copy()
        ou["o_orderstatus"] = self.rng.choice(["F", "O", "P"], len(ou))
        ou["o_totalprice"] = np.round(self.rng.uniform(1000, 500000, len(ou)), 2)
        # a few new orders, dated at the table's newest date
        new_keys = np.arange(max_key + 1, max_key + 3, dtype=np.int64)
        on = o.iloc[[-1] * len(new_keys)].copy()
        on["o_orderkey"] = new_keys
        on["o_custkey"] = self.rng.integers(0, 1000, len(new_keys))
        ob = pd.concat([ou, on], ignore_index=True)

        lu = li.iloc[self._pick(len(li), li["l_orderkey"], recent_from, n_l - 2 * len(new_keys))].copy()
        lu["l_linestatus"] = self.rng.choice(["F", "O"], len(lu))
        lu["l_quantity"] = self.rng.integers(1, 51, len(lu)).astype(float)
        ln = li.iloc[[-1] * (2 * len(new_keys))].copy()
        ln["l_orderkey"] = np.repeat(new_keys, 2)
        ln["l_linenumber"] = np.tile(np.array([1, 2], dtype=np.int32), len(new_keys))
        lb = pd.concat([lu, ln], ignore_index=True)

        po = os.path.join(self.batch_dir, f"orders-{i + 1}.parquet")
        pl = os.path.join(self.batch_dir, f"lineitem-{i + 1}.parquet")
        pq.write_table(pa.Table.from_pandas(ob, preserve_index=False), po)
        pq.write_table(pa.Table.from_pandas(lb, preserve_index=False), pl)
        # apply to the independent model
        self.orders_pd = (
            pd.concat([o, ob]).drop_duplicates(ORDER_KEY, keep="last").reset_index(drop=True)
        )
        self.lines_pd = (
            pd.concat([li, lb]).drop_duplicates(LINE_KEY, keep="last").reset_index(drop=True)
        )
        return po, pl, len(ob), len(lb)

    # ---- cycle

    def fresh_read(self):
        import pyspark.sql.functions as F

        o, li = self.orders.read(), self.lines.read()
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("qty"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("value"),
            )
            .collect()
        )

    def expected_read(self) -> dict:
        j = self.lines_pd.merge(self.orders_pd, left_on="l_orderkey", right_on="o_orderkey")
        out = {}
        for (s, ls), g in j.groupby(["o_orderstatus", "l_linestatus"]):
            value = sum((decimal.Decimal(repr(v)).quantize(decimal.Decimal("0.01"))
                         for v in g["o_totalprice"]), decimal.Decimal(0))
            out[(s, ls)] = (len(g), float(g["l_quantity"].sum()), value)
        return out

    def cycle(self, i: int) -> None:
        po, pl, n_o, n_l = self.make_batch(i)
        read = self.spark.read.parquet
        self.timed("commit", lambda: self.orders.merge(read(po), keys=ORDER_KEY),
                   items=n_o, table="orders", cycle=i)
        self.timed("commit", lambda: self.lines.merge(read(pl), keys=LINE_KEY),
                   items=n_l, table="lineitem", cycle=i)
        tracer = self.ctx.tracer
        first_span = len(tracer.spans) if tracer else 0
        op, rows = self.timed("fresh_read", self.fresh_read, cycle=i)
        if tracer is not None:
            op["read_spans"] = (first_span, len(tracer.spans))
        if op["ok"]:
            got = {(r["o_orderstatus"], r["l_linestatus"]): (r["n"], r["qty"], r["value"]) for r in rows}
            if got != self.expected_read():
                self.fail(op, f"cycle {i}: fresh read differs from the applied batches")
        if i >= 0 and (i + 1) % COMPACT_EVERY == 0:
            self.timed("compact", self.orders.compact, table="orders", cycle=i)
            self.timed("compact", self.lines.compact, table="lineitem", cycle=i)

    def check(self) -> None:
        """Final state of both tables == the model of applied batches."""
        for table, model, keys in (
            (self.orders, self.orders_pd, ORDER_KEY),
            (self.lines, self.lines_pd, LINE_KEY),
        ):
            got = table.read().toPandas()
            cols = sorted(model.columns)
            a = got[cols].sort_values(keys).reset_index(drop=True)
            b = model[cols].sort_values(keys).reset_index(drop=True)
            same = len(a) == len(b) and all(
                (a[c].astype(str).to_numpy() == b[c].astype(str).to_numpy()).all() for c in cols
            )
            self.ops.append({"kind": "final_state", "wall": 0.0, "items": len(b), "ok": same})
            if not same:
                self.ctx.log(f"final state of {os.path.basename(table.root)} differs from the model")

    def summary(self) -> dict:
        reads = [o["wall"] for o in self.ops if o["kind"] == "fresh_read" and o["ok"]]
        return {
            "fresh_read_p50_s": float(np.median(reads)) if reads else 0.0,
            "stored_bytes_per_user_byte": du(self.lake) / self.user_bytes,
        }


# ------------------------------------------------------------ query checks


def canonical_digest(pdf: pd.DataFrame) -> tuple[int, tuple, str]:
    """Order-insensitive (rows, columns, value hash) of a result frame,
    over the engine's canonical cell rendering."""
    from ecommerce_lakehouse_spark.testing import canonical_rows

    rows = canonical_rows(pdf)
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return len(rows), tuple(sorted(pdf.columns)), h


class AnalystQueries(Workload):
    """Gold marts, TPC-H and the two LLM dedup queries from the registry,
    over the generated tables; no lake I/O. Every result is checked
    against the DuckDB oracle digest computed once at set-up."""

    primary = "query"
    tables = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem",
              "documents", "embeddings")
    queries = (
        "daily_sales",
        "product_performance",
        "department_analytics",
        "customer_insights",
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "tpch_q18_large_volume_customer",
        "tpch_q21_waiting_supplier",
        "minhash_lsh_pairs",
        "embedding_cosine_dups",
    )
    #: dedup query -> the table whose rows it deduplicates
    dedup = {"minhash_lsh_pairs": "documents", "embedding_cosine_dups": "embeddings"}

    def setup(self) -> None:
        from ecommerce_lakehouse_spark.queries import ORACLES, REGISTRY
        from ecommerce_lakehouse_spark.testing import run_oracle

        self.registry = REGISTRY
        self.rows = self.generate()
        self.oracle = {q: canonical_digest(run_oracle(ORACLES[q], self.inputs)) for q in self.queries}
        # warm-up: one untimed op
        REGISTRY[self.queries[0]](self.spark, self.inputs).toPandas()

    def cycle(self, i: int) -> None:
        tracer = self.ctx.tracer
        for q in self.queries:
            def run(q=q):
                df = self.registry[q](self.spark, self.inputs)
                if tracer is None:
                    return df.toPandas()
                with tracer.span("queries.exec", query=q):
                    return df.toPandas()

            op, pdf = self.timed(self.primary, run, query=q, cycle=i)
            if op["ok"] and canonical_digest(pdf) != self.oracle[q]:
                self.fail(op, f"{q}: result differs from the DuckDB oracle")

    def summary(self) -> dict:
        ops = [o for o in self.ops if o["query"] in self.dedup and o["ok"]]
        docs = sum(self.rows[self.dedup[o["query"]]] for o in ops)
        wall = sum(o["wall"] for o in ops)
        return {"dedup_docs_per_s": docs / wall if wall else 0.0}


WORKLOADS = {
    "medallion_etl": MedallionEtl,
    "cdc_upserts": CdcUpserts,
    "analyst_queries": AnalystQueries,
}
