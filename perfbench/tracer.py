"""Tracer for the benchmark's traced run.

Spans are recorded from outside the program: the tracer replaces public
functions of the engine's modules with wrappers (in every module that bound
them, so ``from ..catalog import load_table`` call sites are covered too) and
restores them afterwards.  Each span records name, layer, start, end, parent
and request id; spans stay in memory and are written once at the end.

Spark work is tied to the span that issued it: entering a span on the main
thread sets the Spark job group to the span id, so every job, stage and task
in the application status store (served with ``spark.ui.enabled=false``) can
be attributed to a layer.  Streaming progress comes from a
``streaming.observe.ProgressCapture`` subclass that also keeps the
per-trigger phase durations.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time

PKG = "aws_callcenter_delta_lakehouse_spark"
GROUP_PREFIX = "perfbench:"

# operator modules grouped into the families the per-layer metrics name
OPERATOR_FAMILY = {
    "similarity": "similarity", "pq": "similarity",
    "dedup": "dedup", "prefix": "dedup", "substrings": "dedup",
    "text": "text", "bpe": "bpe", "multimodal": "multimodal",
    "curation": "curation",
}

# managed_table functions that run a table operation; ``read`` is traced
# too but is not a commit
MANAGED_TABLE_EXECUTORS = (
    "write_or_merge", "merge_upsert", "update_where", "delete_where",
    "append_rows", "commit_overwrite", "append_partitioned", "initial_write",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.commits: list[dict] = []
        self.request: str | None = None
        self._root: int | None = None
        self._ids = iter(range(1, 1 << 62))
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None
        self._main_stack = self._stack()  # the tracer is made on the main thread

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[dict]) -> int | None:
        """Innermost open span of this thread; a callback thread (a
        streaming ``foreachBatch``) nests under the main thread's
        innermost span, which is waiting on it."""
        if stack:
            return stack[-1]["id"]
        if threading.current_thread() is not threading.main_thread():
            main = self._main_stack
            return main[-1]["id"] if main else self._root
        return self._root

    def bind_spark(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None or threading.current_thread() is not threading.main_thread():
            return
        if span_id is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", "perfbench")

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "layer": layer, "parent": self._parent(stack),
            "request": self.request, "start": time.perf_counter(), "end": None,
        }
        rec.update(attrs)
        stack.append(rec)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1]["id"] if stack else self._root)
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def request_span(self, request_id: str, name: str):
        """Root span of one client request; spans opened on other threads
        (streaming callbacks) while it is open become its children."""
        self.request = request_id
        with self.span(name, "client") as rec:
            self._root = rec["id"]
            try:
                yield rec
            finally:
                self._root = None
                self.request = None

    # -- wrapping ---------------------------------------------------------
    def _replace_everywhere(self, fn, wrapper) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, fn))

    def wrap(self, fn, layer: str, name: str | None = None, on_call=None):
        """Trace every call of ``fn`` made through any module binding."""
        span_name = name or f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = on_call(*args, **kwargs) if on_call else {}
            with self.span(attrs.pop("name", span_name), layer, **attrs):
                return fn(*args, **kwargs)

        self._replace_everywhere(fn, wrapper)

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def install(self) -> None:
        """Wrap the engine's layer boundaries (catalog, operators,
        sql_dml, managed_table, pipeline, validation, streaming)."""
        import importlib
        import inspect

        from aws_callcenter_delta_lakehouse_spark import catalog
        from aws_callcenter_delta_lakehouse_spark.functions import validation
        from aws_callcenter_delta_lakehouse_spark.pipeline import gold_job, silver
        from aws_callcenter_delta_lakehouse_spark.sources import managed_table, sql_dml
        from aws_callcenter_delta_lakehouse_spark.streaming import streams

        self.wrap(catalog.load_table, "catalog")
        ops_dir = os.path.join(os.path.dirname(catalog.__file__), "operators")
        for fname in sorted(os.listdir(ops_dir)):
            if not fname.endswith(".py") or fname.startswith("_"):
                continue
            mod = importlib.import_module(f"{PKG}.operators.{fname[:-3]}")
            family = OPERATOR_FAMILY.get(fname[:-3], fname[:-3])
            for attr, val in list(vars(mod).items()):
                if (
                    inspect.isfunction(val)
                    and val.__module__ == mod.__name__
                    and not attr.startswith("_")
                ):
                    self.wrap(val, "operators", f"operators.{family}.{attr}")
        self.wrap(sql_dml.sql, "sql_dml", on_call=lambda spark, stmt, *a, **k: {
            "name": f"sql_dml.{_verb(stmt)}", "verb": _verb(stmt)})
        for attr in MANAGED_TABLE_EXECUTORS + ("read",):
            self.wrap(getattr(managed_table, attr), "managed_table")
        self.wrap(managed_table._checked_publish, "managed_table", "managed_table.publish",
                  on_call=self._commit_attrs)
        self.wrap(silver.silver_job, "pipeline")
        self.wrap(gold_job.gold_job, "pipeline")
        for attr in ("validate_observed", "split_valid_invalid", "callcenter_rules"):
            self.wrap(getattr(validation, attr), "validation")
        self.wrap(streams.foreach_batch_incremental_gold, "streaming")

    def _commit_attrs(self, path, staging, *args, **kwargs) -> dict:
        """Files the commit wrote: staged files not hard-linked from an
        earlier snapshot (link count 1)."""
        files = nbytes = 0
        for root, _dirs, names in os.walk(staging):
            for n in names:
                st = os.stat(os.path.join(root, n))
                if st.st_nlink == 1:
                    files += 1
                    nbytes += st.st_size
        rec = {"path": path, "files_added": files, "bytes_written": nbytes}
        with self._lock:
            self.commits.append(rec)
        return {"files_added": files, "bytes_written": nbytes}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans, "commits": self.commits}, fh)


def _verb(stmt: str) -> str:
    head = stmt.lstrip().split(None, 1)[0].upper() if stmt.strip() else ""
    return {"MERGE": "merge", "UPDATE": "update", "DELETE": "delete",
            "INSERT": "insert"}.get(head, "read")


# -- Spark status store ---------------------------------------------------
def _opt(o):
    return o.get() if o.isDefined() else None


def spark_work(spark) -> dict[int, dict]:
    """Per span id: job, stage and task counts and stage metrics of every
    job whose group this tracer set.  A stage shared by several jobs is
    counted once, for the first job that ran it."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out: dict[int, dict] = {}
    seen_stages: set[int] = set()
    rows = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = _opt(j.jobGroup())
        sids = j.stageIds()
        rows.append((j.jobId(), group, [sids.apply(k) for k in range(sids.size())]))
    for job_id, group, stage_ids in sorted(rows):
        if not group or not group.startswith(GROUP_PREFIX):
            continue
        acc = out.setdefault(int(group[len(GROUP_PREFIX):]), _zero_work())
        acc["jobs"] += 1
        for sid in stage_ids:
            if sid in seen_stages:
                continue
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store or never run
                continue
            if str(s.status()) == "SKIPPED":
                continue
            seen_stages.add(sid)
            acc["stages"] += 1
            acc["tasks"] += s.numTasks()
            acc["executor_run_s"] += s.executorRunTime() / 1e3
            acc["executor_cpu_s"] += s.executorCpuTime() / 1e9
            acc["gc_s"] += s.jvmGcTime() / 1e3
            acc["input_bytes"] += s.inputBytes()
            acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
            acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def _zero_work() -> dict:
    return dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "input_bytes", "shuffle_write_bytes", "spill_bytes"), 0)


def query_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of a DataFrame's last
    execution, from ``QueryExecution.tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def progress_capture_class():
    """``ProgressCapture`` that also keeps each trigger's phase durations
    (``durationMs``) and input row count."""
    from aws_callcenter_delta_lakehouse_spark.streaming.observe import ProgressCapture

    class PhaseCapture(ProgressCapture):
        def __init__(self) -> None:
            super().__init__()
            self.durations: list[dict] = []

        def onQueryProgress(self, event) -> None:  # noqa: N802
            super().onQueryProgress(event)
            p = json.loads(event.progress.json)
            self.durations.append(
                {"input_rows": int(p.get("numInputRows", 0)), **(p.get("durationMs") or {})}
            )

    return PhaseCapture


# -- per-layer metrics ----------------------------------------------------
LAYERS = ("client", "catalog", "plans", "operators", "spark", "sql_dml",
          "managed_table", "pipeline", "validation", "streaming")
FAMILIES = ("dedup", "text")
VERBS = ("merge", "update", "delete", "insert", "read")
STREAM_PHASES = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "latest_offset_ms": "latestOffset",
}
SPARK_FIELDS = tuple(_zero_work())


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its child spans cover."""
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] in dur:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    return {i: d - child.get(i, 0.0) for i, d in dur.items()}


def layer_self_times(spans: list[dict], window_s: float) -> dict[str, float]:
    """Self time per layer; ``harness`` is the traced window's time outside
    any request (output checks, cleanup between requests)."""
    st = self_times(spans)
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    roots = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    out["harness"] = window_s - roots
    return out


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def layer_metrics(tracer: Tracer, work: dict[int, dict], durations: list[dict],
                  traced, untraced, window_s: float, sessions: list[float]) -> dict[str, float]:
    """Per-layer metrics of the traced window; the table sizes
    (``managed_table.versions``, ``..bytes_stored_per_user_byte``) are
    added by the caller."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    st = self_times(spans)

    def chain(sid):
        while sid is not None and sid in by_id:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    def work_where(pred) -> dict:
        acc = _zero_work()
        for sid, w in work.items():
            if any(pred(s) for s in chain(sid)):
                for k in SPARK_FIELDS:
                    acc[k] += w[k]
        return acc

    m: dict[str, float] = {
        "session.get_spark_s": _median(sessions),
        "session.jvm_launch_s": sessions[0] if sessions else 0.0,
    }
    cat = [s for s in spans if s["layer"] == "catalog"]
    m["catalog.load_table_calls"] = len(cat)
    m["catalog.load_table_s"] = sum(s["end"] - s["start"] for s in cat)
    builds = [s for s in spans if s["name"] == "plans.build"]
    m["plans.build_s"] = sum(st[s["id"]] for s in builds)
    m["plans.build_jobs"] = work_where(lambda s: s["name"] == "plans.build")["jobs"]
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_ms"] = sum(
            s["phases_ms"][phase] for s in spans if "phases_ms" in s)
    total = work_where(lambda s: True)
    for k in SPARK_FIELDS:
        m[f"spark.{k}"] = total[k]

    families_of: dict[str, set] = {}
    for s in spans:
        if s["layer"] == "operators":
            families_of.setdefault(s["request"], set()).add(s["name"].split(".")[1])
    for fam in FAMILIES:
        w = work_where(lambda s, fam=fam: s["layer"] == "client"
                       and fam in families_of.get(s["request"], ()))
        m[f"operators.{fam}.exec_s"] = w["executor_run_s"]
        m[f"operators.{fam}.cpu_s"] = w["executor_cpu_s"]

    for verb in VERBS:
        m[f"sql_dml.{verb}.self_s"] = sum(
            st[s["id"]] for s in spans if s["layer"] == "sql_dml" and s.get("verb") == verb)

    def is_executor(s):
        return (s["layer"] == "managed_table"
                and s["name"] not in ("managed_table.read", "managed_table.publish"))

    publishes = [s for s in spans if s["name"] == "managed_table.publish"]
    outer = [s for s in spans if is_executor(s)
             and not any(is_executor(a) for a in list(chain(s["parent"])))]
    m["managed_table.commits"] = len(publishes)
    m["managed_table.commit_s"] = sum(s["end"] - s["start"] for s in outer)
    m["managed_table.jobs_per_commit"] = (
        work_where(is_executor)["jobs"] / len(publishes) if publishes else 0.0)
    m["managed_table.files_added"] = sum(s["files_added"] for s in publishes)
    m["managed_table.bytes_written"] = sum(s["bytes_written"] for s in publishes)

    def span_sum(pred):
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    m["pipeline.silver_s"] = span_sum(lambda s: s["name"] == "pipeline.silver_job")
    m["pipeline.gold_s"] = span_sum(lambda s: s["name"] == "pipeline.gold_job")
    m["pipeline.athena_s"] = span_sum(
        lambda s: s["layer"] == "client" and s["name"] in {f"athena_q{i}" for i in range(1, 6)})
    etl = sum(p.extra.get("etl_s", 0.0) for p in traced)
    m["pipeline.rows_per_s"] = sum(p.extra.get("rows", 0) for p in traced) / etl if etl else 0.0
    seen = sum(p.extra.get("valid", 0) + p.extra.get("invalid", 0) for p in traced)
    m["validation.reject_ratio"] = (
        sum(p.extra.get("invalid", 0) for p in traced) / seen if seen else 0.0)

    m["streaming.micro_batches"] = len(durations)
    m["streaming.input_rows"] = sum(d["input_rows"] for d in durations)
    for name, key in STREAM_PHASES.items():
        m[f"streaming.{name}"] = sum(d.get(key, 0) for d in durations)

    for layer, v in layer_self_times(spans, window_s).items():
        m[f"selftime.{layer}_s"] = v
    m["trace.wall_s"] = window_s
    m["trace.spans"] = len(spans)
    base = _median([p.wall_s for p in untraced])
    m["trace.overhead_ratio"] = _median([p.wall_s for p in traced]) / base if base else 0.0
    return m


def unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if "ratio" in name or "per_user_byte" in name or "per_commit" in name:
        return "ratio"
    return "count"
