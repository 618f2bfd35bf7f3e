"""The benchmark's workloads.  Each is one closed-loop client: it sends its
next request only after the previous one returned.

* ``interactive_sql`` -- a fixed 25-query read mix over the registry, run
  in whole passes; the seed permutes the order within each pass.  Every
  result is fingerprinted and compared with ``fingerprints.json``.
* ``medallion_writes`` -- the reference pipeline per CSV batch: Silver job,
  Gold job, a streaming micro-batch that folds the batch into a per-agent
  aggregate, the five Athena queries through the SQL front end, then a
  burst of single-row DML statements by registered name.  Outputs are
  checked against the counts the generator recorded.

A pass is one sweep of the mix (``interactive_sql``) or one batch
(``medallion_writes``).  The operations whose latency is reported are the
registry queries (``interactive_sql``) and the DML statements
(``medallion_writes``); the batch's ETL and Athena queries count in the
pass time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

INTERACTIVE_QUERIES = (
    "athena_q1_daily_summary", "athena_q2_agent_overview",
    "athena_q3_duration_metrics", "athena_q4_top_agents",
    "athena_q5_high_failure_days", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue", "tpch_q9_product_type_profit",
    "tpch_q13_customer_distribution", "tpch_q18_large_volume",
    "join_fact_revenue", "window_topk_per_group", "events_rolling_7day",
    "events_retention_cohorts", "events_funnel_timebound", "sql_events_hourly",
    "sql_having", "sql_group_by_all", "sql_cte_exists",
    "sql_lateral_topn_per_region", "asof_join_last_purchase", "dedup_exact",
    "text_quality_score",
)
# the warm-up: one query per plan shape of the mix (aggregate, star join,
# window, events, operator).  A full untimed pass does not fit the run-time
# budget, so the timed pass also pays each query's first-run code generation.
WARM_QUERIES = (
    "athena_q1_daily_summary", "tpch_q1_pricing_summary",
    "tpch_q9_product_type_profit", "events_rolling_7day", "dedup_exact",
)


# -- output fingerprints --------------------------------------------------
def _canon(v):
    """Value in a form that does not depend on float summation order."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return format(v, ".6g")
    if isinstance(v, decimal.Decimal):
        return format(float(v), ".6g")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if hasattr(v, "asDict"):
        return _canon(v.asDict(recursive=True))
    return v


def fingerprint(rows) -> dict:
    """Row count plus an order-insensitive hash of values rounded to six
    significant digits."""
    lines = sorted(json.dumps(_canon(list(r)), default=str) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return {"rows": len(lines), "hash": h}


def load_fingerprints(size: str) -> dict:
    with open(FINGERPRINTS) as fh:
        return json.load(fh).get(size, {})


# -- helpers --------------------------------------------------------------
def cleanup(spark) -> None:
    """Drop what a request left behind (cached plans, checkpointed RDD
    blocks, temp views) so one request does not slow the next."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


def host_counters(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds used by this process and the driver JVM, and seconds the
    host's hypervisor took from this machine's CPUs (steal)."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / tick
    t = os.times()
    cpu = t.user + t.system
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        cpu += (int(fields[11]) + int(fields[12])) / tick
    return {"cpu_s": cpu, "steal_s": steal}


def op_record(op: str, kind: str, t0: float, c0: dict, jvm_pid: int | None) -> dict:
    s = time.perf_counter() - t0
    c1 = host_counters(jvm_pid)
    return {"op": op, "kind": kind, "s": s, **{k: c1[k] - c0[k] for k in c0}}


class Pass:
    """Timings and outcomes of one pass."""

    def __init__(self, index: int) -> None:
        self.index = index
        self.ops: list[dict] = []
        self.wall_s = 0.0
        self.failures: list[str] = []
        self.extra: dict = {}

    def to_json(self) -> dict:
        return {"index": self.index, "wall_s": self.wall_s, "ops": self.ops,
                "failures": self.failures, **self.extra}


@contextlib.contextmanager
def _nullspan(*_a, **_k):
    yield {}


class Workload:
    name = ""

    def __init__(self, data_dir: str, work_dir: str, seed: int, size: str) -> None:
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.size = size
        self.rng = random.Random(seed)
        self.tracer = None
        self.jvm_pid: int | None = None
        self.attempted = 0
        self.failed = 0

    def span(self, name: str, layer: str, **attrs):
        return self.tracer.span(name, layer, **attrs) if self.tracer else _nullspan()

    def request(self, request_id: str, name: str):
        return (self.tracer.request_span(request_id, name) if self.tracer
                else _nullspan())

    def run_passes(self, spark, seconds: float, first: int, limit: int | None = None):
        """Whole passes until ``seconds`` have elapsed (at least one)."""
        passes = []
        t0 = time.perf_counter()
        i = first
        while not passes or time.perf_counter() - t0 < seconds:
            if limit is not None and i >= limit:
                break
            before = host_counters(self.jvm_pid)
            p = self.one_pass(spark, i)
            after = host_counters(self.jvm_pid)
            p.extra.update({k: after[k] - before[k] for k in before})
            passes.append(p)
            i += 1
        return passes

    csv_bytes = 0

    def stored_bytes(self) -> int:
        return 0

    def versions(self) -> int:
        return 0

    def record(self, p: Pass, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            p.failures.append(what)


# -- interactive_sql ------------------------------------------------------
class InteractiveSql(Workload):
    name = "interactive_sql"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY

        self.registry = REGISTRY
        self.tables_dir = os.path.join(self.data_dir, "tables")
        self.expected = load_fingerprints(self.size)
        self.recorded: dict[str, dict] = {}

    def prepare(self, spark) -> None:
        from aws_callcenter_delta_lakehouse_spark.catalog import load_table

        for t in self.tables:
            load_table(spark, self.tables_dir, t).schema  # noqa: B018


    def warm(self, spark) -> Pass:
        return self.one_pass(spark, 0, WARM_QUERIES)

    def one_pass(self, spark, index: int, queries=INTERACTIVE_QUERIES) -> Pass:
        from tracer import query_phases_ms

        p = Pass(index)
        order = list(queries)
        self.rng.shuffle(order)
        for name in order:
            rows, why = None, ""
            c0, t0 = host_counters(self.jvm_pid), time.perf_counter()
            try:
                with self.request(f"p{index}:{name}", name):
                    with self.span("plans.build", "plans"):
                        df = self.registry[name].fn(spark, self.tables_dir)
                    with self.span("spark.action", "spark") as action:
                        rows = df.collect()
            except Exception as exc:  # a failed request is counted, not fatal
                why = f"{name}: {exc!r}"[:500]
            p.ops.append(op_record(name, "query", t0, c0, self.jvm_pid))
            if rows is not None:
                if self.tracer:
                    action["phases_ms"] = query_phases_ms(df)
                fp = fingerprint(rows)
                expected = self.expected.get(name)
                if expected is None:
                    self.recorded[name] = fp
                    why = f"{name}: no recorded fingerprint"
                elif fp != expected:
                    why = f"{name}: got {fp}, recorded {expected}"
            self.record(p, not why, why)
            cleanup(spark)
        p.wall_s = sum(o["s"] for o in p.ops)
        return p


# -- medallion_writes -----------------------------------------------------
GOLD_TABLES = (
    "gold_call_daily_summary", "gold_agent_performance",
    "gold_call_duration_metrics",
)
CATALOG_DB = "callcenter_analytics"


class MedallionWrites(Workload):
    name = "medallion_writes"

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.calls_dir = os.path.join(self.data_dir, "calls")
        with open(os.path.join(self.calls_dir, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.batches = self.manifest["batches"]
        self.processing_date = dt.date.fromisoformat(self.manifest["processing_date"])
        lake = os.path.join(self.work_dir, "lake")
        self.landing = os.path.join(lake, "landing")
        self.silver = os.path.join(lake, "silver", "calls")
        self.exception = os.path.join(lake, "exception", "calls")
        self.gold = os.path.join(lake, "gold")
        self.agg = os.path.join(lake, "stream", "agent_call_counts")
        self.checkpoint = os.path.join(lake, "stream", "_checkpoint")
        self.registry_dir = os.path.join(lake, "_name_registry")
        os.makedirs(self.landing, exist_ok=True)
        self.stored_roots = [os.path.dirname(self.silver), os.path.dirname(self.exception),
                             self.gold]
        self.invalid_total = 0
        self.agent_rows_total = 0
        self.csv_bytes = 0

    def prepare(self, spark) -> None:
        from aws_callcenter_delta_lakehouse_spark.pipeline.silver import read_raw_calls

        read_raw_calls(spark, os.path.join(self.calls_dir, self.batches[0]["csv"])).schema  # noqa: B018

    def _register_names(self) -> None:
        from aws_callcenter_delta_lakehouse_spark.sources import txn_catalog

        names = {f"{CATALOG_DB}.{t}": os.path.join(self.gold, t) for t in GOLD_TABLES}
        names[f"{CATALOG_DB}.silver_calls"] = self.silver
        for name, path in names.items():
            txn_catalog.register_table_name(self.registry_dir, name, path, replace=True)

    def _stream(self, spark) -> None:
        from aws_callcenter_delta_lakehouse_spark.pipeline.silver import CALL_SCHEMA
        from aws_callcenter_delta_lakehouse_spark.streaming import streams

        calls = (spark.readStream.schema(CALL_SCHEMA).option("header", True)
                 .csv(self.landing).filter("agent_id IS NOT NULL"))
        q = streams.foreach_batch_incremental_gold(
            calls, self.agg, ("agent_id",), "caller_id", self.checkpoint)
        try:
            with self.span("streaming.drain", "streaming"):
                q.processAllAvailable()
        finally:
            q.stop()

    def warm(self, spark) -> Pass:
        return self.one_pass(spark, 0)

    def _timed(self, p: Pass, rid: str, op: str, kind: str, fn):
        """Run one request; returns (result, error text)."""
        c0, t0 = host_counters(self.jvm_pid), time.perf_counter()
        out, why = None, ""
        try:
            with self.request(rid, op):
                out = fn()
        except Exception as exc:  # a failed request is counted, not fatal
            why = f"{op}: {exc!r}"[:500]
        p.ops.append(op_record(op, kind, t0, c0, self.jvm_pid))
        return out, why

    def one_pass(self, spark, index: int) -> Pass:
        from pyspark.sql import functions as F

        from aws_callcenter_delta_lakehouse_spark.pipeline import gold_job, silver
        from aws_callcenter_delta_lakehouse_spark.pipeline.cli import (
            ANALYTICS_QUERIES_CATALOG,
        )
        from aws_callcenter_delta_lakehouse_spark.sources import managed_table, sql_dml

        b = self.batches[index]
        p = Pass(index)
        src = os.path.join(self.landing, b["csv"])
        shutil.copyfile(os.path.join(self.calls_dir, b["csv"]), src)
        self.csv_bytes += b["bytes"]
        self.invalid_total += b["invalid"]
        self.agent_rows_total += b["agent_rows"]

        # -- ETL: Silver, Gold, streaming fold (one request) ---------------
        times = {}

        def etl():
            t = time.perf_counter()
            out = silver.silver_job(spark, src, self.silver, self.exception,
                                    processing_date=self.processing_date,
                                    run_id=f"b{index}")
            times["silver_s"] = time.perf_counter() - t
            t = time.perf_counter()
            gold_job.gold_job(spark, self.silver, self.gold,
                              processing_date=self.processing_date)
            times["gold_s"] = time.perf_counter() - t
            t = time.perf_counter()
            self._stream(spark)
            times["stream_s"] = time.perf_counter() - t
            return out

        out, why = self._timed(p, f"b{index}:etl", "etl", "etl", etl)
        p.extra.update(times, rows=b["rows"], etl_s=p.ops[-1]["s"])
        if out is not None:
            p.extra["valid"], p.extra["invalid"] = out["valid"], out["invalid"]
            if (out["valid"], out["invalid"]) != (b["valid"], b["invalid"]):
                why = f"etl: valid/invalid {out['valid']}/{out['invalid']}, " \
                      f"expected {b['valid']}/{b['invalid']}"
        if index == 0:
            self._register_names()

        # -- Athena queries through the SQL front end ----------------------
        agents = b["silver_agents"]
        expect_rows = {1: 1, 2: min(20, agents), 3: 1, 4: min(5, agents), 5: 1}
        athena_s = 0.0
        for i in sorted(ANALYTICS_QUERIES_CATALOG):
            def athena(i=i):
                df = sql_dml.sql(spark, ANALYTICS_QUERIES_CATALOG[i], self.registry_dir)
                with self.span("spark.action", "spark"):
                    return df.collect()

            rows, qwhy = self._timed(p, f"b{index}:athena_q{i}", f"athena_q{i}", "athena", athena)
            athena_s += p.ops[-1]["s"]
            if rows is not None and len(rows) != expect_rows[i]:
                qwhy = f"athena_q{i}: {len(rows)} rows, expected {expect_rows[i]}"
            elif rows is not None and i == 1 and rows[0]["total_calls"] != b["silver_after_batch"]:
                qwhy = (f"athena_q1: gold total_calls {rows[0]['total_calls']}, "
                        f"silver rows {b['silver_after_batch']}")
            self.record(p, not qwhy, qwhy)
        p.extra["athena_s"] = athena_s

        # -- DML burst by registered name ----------------------------------
        for j, st in enumerate(b["dml"]):
            _, dwhy = self._timed(
                p, f"b{index}:dml{j}", f"dml_{st['verb']}", "dml",
                lambda st=st: sql_dml.sql(spark, st["sql"], self.registry_dir))
            self.record(p, not dwhy, dwhy)
        p.wall_s = sum(o["s"] for o in p.ops)

        # -- output checks (untimed) ---------------------------------------
        if not why:
            checks = {
                "silver rows after DML": (
                    managed_table.read(spark, self.silver).count(), b["silver_after_dml"]),
                "exception rows": (
                    managed_table.read(spark, self.exception).count(), self.invalid_total),
                "streamed agent rows": (
                    managed_table.read(spark, self.agg).agg(F.sum("n_rows")).first()[0],
                    self.agent_rows_total),
            }
            bad = [f"{k}: {got}, expected {exp}" for k, (got, exp) in checks.items()
                   if got != exp]
            why = "; ".join(bad)
        self.record(p, not why, why)
        cleanup(spark)
        return p

    def stored_bytes(self) -> int:
        total = 0
        for root in self.stored_roots:
            for d, _dirs, names in os.walk(root):
                total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
        return total

    def versions(self) -> int:
        from aws_callcenter_delta_lakehouse_spark.sources import managed_table

        paths = [self.silver, self.exception, self.agg] + [
            os.path.join(self.gold, t) for t in GOLD_TABLES]
        return sum(managed_table.table_version(p) for p in paths)


WORKLOADS = {w.name: w for w in (InteractiveSql, MedallionWrites)}
