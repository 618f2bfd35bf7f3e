"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout; the engine is imported from there.
Each invocation is one fresh process with its own Spark driver at
``local[4]``.  Everything the run writes (inputs, tables, warehouse,
metastore, checkpoints, Spark scratch) lives under ``.bench_run/`` and is
removed at the end; the result file (metrics, samples, provenance) and, for
a traced run, the trace go to ``.bench_results/``.

Shape of a run:

1. generate the inputs from ``--seed`` (``gen.py``);
2. set up repeatedly -- start a Spark session and resolve the workload's
   inputs -- and report the median as ``setup_s`` (the first set-up also
   launches the JVM);
3. an untimed warm-up (``interactive_sql``: five queries of the mix;
   ``medallion_writes``: the first batch, which creates the tables), whose
   outputs are checked like every other;
4. whole passes until ``--seconds`` have elapsed (at least one), timed;
5. with ``--trace 1``: the same again with the tracer installed, reporting
   per-layer metrics and the traced/untraced pass-time ratio.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  Untraced, the metrics are

* ``setup_s`` -- median set-up time;
* ``pass_s`` -- median time of a timed pass, summed over its requests;
* ``pass_cpu_s`` -- CPU seconds the driver JVM and this process spent on
  those requests.

Times are wall times corrected for the hypervisor's CPU steal (see
``unstolen``); the raw wall times, per-request latency percentiles, the
workload's own figures (queries/s, ETL rows/s, DML latency, bytes stored
per CSV byte), peak RSS and the failed ratio are in the result file.  The
process exits non-zero without printing a result if the engine's package
is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "aws_callcenter_delta_lakehouse_spark"
CORES = 4
# set-up is repeated until this much time has gone into the repeats (at
# least MIN_SETUPS set-ups in all), so a cheap set-up gets more samples
SETUP_REPEAT_S = 1.5
MIN_SETUPS, MAX_SETUPS = 3, 25


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def unstolen(wall_s: float, cpu_s: float, steal_s: float) -> float:
    """Wall time less the time the hypervisor took from the run (steal).

    On a shared host the steal swings from 5 % to 40 % of CPU time between
    runs minutes apart, and raw wall times with it.  Steal only hits CPUs
    that have work to run, so of the CPU time the run asked for,
    ``cpu_s + steal_s``, it got ``cpu_s``; without the steal the interval
    shrinks by that share."""
    return wall_s * cpu_s / (cpu_s + steal_s) if cpu_s + steal_s > 0 else wall_s


def op_time(o: dict) -> float:
    return unstolen(o["s"], o["cpu_s"], o["steal_s"])


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile (at most p90) with at least ten
    samples beyond it; (percentile, value).  Falls back to the median."""
    n = len(xs)
    q = min(0.9, 1 - 10 / n) if n else 0.5
    q = max(q, 0.5)
    s = sorted(xs)
    return q, s[min(n - 1, int(q * n))] if s else 0.0


def source_digest() -> str:
    """Hash of the engine's Python sources, so results from different code
    are told apart also where the checkout is not a git repository."""
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set of this Python process and of the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    return py, jvm


def start_session(run_dir: str):
    from aws_callcenter_delta_lakehouse_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={run_dir}",
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )


def stop_session(spark, jvm_too: bool) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if jvm_too and gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, run_dir: str) -> dict:
    import gen
    import tracer as tr
    from workloads import WORKLOADS, host_counters

    load_start = os.getloadavg()
    data_dir = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    table_rows = {}
    if args.workload == "interactive_sql":
        table_rows = gen.write_tables(os.path.join(data_dir, "tables"), args.size)
    else:
        manifest = gen.write_calls(os.path.join(data_dir, "calls"), args.seed, args.size)
        table_rows = {"call_center_csv": sum(b["rows"] for b in manifest["batches"])}
    gen_s = time.perf_counter() - t0

    wl = WORKLOADS[args.workload](data_dir, run_dir, args.seed, args.size)

    # -- set-up: session start plus resolving the workload's inputs --------
    setups, sessions = [], []
    spark = None
    t_repeats = None
    while len(setups) < MAX_SETUPS and (
        len(setups) < MIN_SETUPS or time.perf_counter() - t_repeats < SETUP_REPEAT_S
    ):
        if spark is not None:
            stop_session(spark, jvm_too=False)
        c0, t = host_counters(wl.jvm_pid), time.perf_counter()
        spark = start_session(run_dir)
        t_session = time.perf_counter()
        wl.jvm_pid = spark.sparkContext._gateway.proc.pid
        wl.prepare(spark)
        t_end = time.perf_counter()
        c1 = host_counters(wl.jvm_pid)
        setups.append(unstolen(t_end - t, c1["cpu_s"] - c0["cpu_s"],
                               c1["steal_s"] - c0["steal_s"]))
        sessions.append(t_session - t)
        if t_repeats is None:
            t_repeats = t_end

    trace_metrics = None
    try:
        warm = wl.warm(spark)
        limit = len(getattr(wl, "batches", [])) or None
        timed = wl.run_passes(spark, args.seconds, 1, limit)
        traced = []
        if args.trace:
            tracer = tr.Tracer()
            tracer.install()
            tracer.bind_spark(spark)
            wl.tracer = tracer
            capture = tr.progress_capture_class()()
            spark.streams.addListener(capture)
            t_window = time.perf_counter()
            try:
                traced = wl.run_passes(spark, args.seconds, 1 + len(timed), limit)
            finally:
                window_s = time.perf_counter() - t_window
                spark.streams.removeListener(capture)
                tracer.restore()
                wl.tracer = None
                spark.sparkContext._jsc.clearJobGroup()
            work = tr.spark_work(spark)
            trace_metrics = tr.layer_metrics(
                tracer, work, capture.durations, traced, timed, window_s, sessions)
            trace_file = os.path.join(args.results, f"{args.tag}-trace.json")
            tracer.dump(trace_file, {"workload": args.workload, "seed": args.seed,
                                     "window_s": window_s, "spark_work": work})
        py_rss, jvm_rss = peak_rss_mb(spark)
        spark_version = spark.version
        java_version = spark.sparkContext._jvm.System.getProperty("java.version")
        stored_per_byte = wl.stored_bytes() / wl.csv_bytes if wl.csv_bytes else 0.0
        versions = wl.versions()
    finally:
        stop_session(spark, jvm_too=True)

    if trace_metrics is not None:
        trace_metrics["managed_table.versions"] = versions
        trace_metrics["managed_table.bytes_stored_per_user_byte"] = stored_per_byte

    lat = [op_time(o) for p in timed for o in p.ops if o["kind"] in ("query", "dml")]
    q, tail = tail_percentile(lat)
    # the metrics BENCHMARK.json bounds: those whose run-to-run spread on a
    # shared four-core host stays well inside a bound (see CHANGES.md)
    end_to_end = {
        "setup_s": (_median(setups), "s"),
        "pass_s": (_median([sum(op_time(o) for o in p.ops) for p in timed]), "s"),
        "pass_cpu_s": (_median([sum(o["cpu_s"] for o in p.ops) for p in timed]), "s"),
    }
    correct = wl.failed == 0
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "end_to_end": {k: v for k, (v, _u) in end_to_end.items()},
        "op_p50_s": _median(lat),
        "op_tail": {"percentile": q, "s": tail, "samples": len(lat)},
        "peak_rss_mb": py_rss + jvm_rss,
        "raw_wall": {"pass_s": _median([p.wall_s for p in timed]),
                     "op_p50_s": _median([o["s"] for p in timed for o in p.ops
                                          if o["kind"] in ("query", "dml")]),
                     "steal_s": sum(p.extra["steal_s"] for p in timed)},
        "workload_metrics": workload_metrics(args.workload, timed, lat, stored_per_byte),
        "setups_s": setups, "get_spark_s": sessions, "gen_s": gen_s,
        "peak_rss_split_mb": {"python": py_rss, "jvm": jvm_rss},
        "warm_pass": warm.to_json(),
        "passes": [p.to_json() for p in timed],
        "traced_passes": [p.to_json() for p in traced],
        "attempted": wl.attempted, "failed": wl.failed,
        "failed_ratio": wl.failed / max(wl.attempted, 1),
        "recorded_fingerprints": getattr(wl, "recorded", {}),
        "provenance": {
            "git_sha": git_sha(), "source_sha256": source_digest(),
            "nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_version": spark_version, "java_version": java_version,
            "python_version": platform.python_version(),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "data_dir": os.path.relpath(data_dir, ROOT), "table_rows": table_rows,
        },
    }
    if trace_metrics is not None:
        detail["per_layer"] = trace_metrics
    return {"correct": correct, "detail": detail, "end_to_end": end_to_end,
            "per_layer": trace_metrics}


def workload_metrics(workload: str, passes, lat, stored_per_byte: float) -> dict:
    """The workload-specific figures behind the end-to-end metrics."""
    if workload == "interactive_sql":
        total = sum(lat)
        return {"query_p50_s": _median(lat), "queries_per_s": len(lat) / total if total else 0.0}
    dml = [op_time(o) for p in passes for o in p.ops if o["kind"] == "dml"]
    etl = [op_time(o) for p in passes for o in p.ops if o["kind"] == "etl"]
    rows = sum(p.extra.get("rows", 0) for p in passes)
    return {
        "etl_batch_p50_s": _median(etl),
        "etl_rows_per_s": rows / sum(etl) if sum(etl) else 0.0,
        "dml_p50_s": _median(dml),
        "dml_tail": dict(zip(("percentile", "s"), tail_percentile(dml))),
        "bytes_stored_per_user_byte": stored_per_byte,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="callhouse layered benchmark")
    p.add_argument("--workload", required=True,
                   choices=("interactive_sql", "medallion_writes"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "tiny"), default="bench")
    p.add_argument("--results", default=os.path.join(ROOT, ".bench_results"))
    p.add_argument("--record-fingerprints", action="store_true",
                   help="write the warm pass's result fingerprints into "
                   "fingerprints.json instead of checking them")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tracer

    os.makedirs(args.results, exist_ok=True)
    args.tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".bench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    # every temp file the engine or Spark makes lands in the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # no hsperfdata files in the system temp dir, for any JVM the run starts
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    cwd = os.getcwd()
    os.chdir(run_dir)  # metastore_db, derby.log, spark-warehouse
    try:
        out = run(args, run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    if args.record_fingerprints:
        import workloads

        with open(workloads.FINGERPRINTS) as fh:
            book = json.load(fh)
        book.setdefault(args.size, {}).update(out["detail"]["recorded_fingerprints"])
        with open(workloads.FINGERPRINTS, "w") as fh:
            json.dump(book, fh, indent=1, sort_keys=True)
            fh.write("\n")

    with open(os.path.join(args.results, f"{args.tag}.json"), "w") as fh:
        json.dump(out["detail"], fh, indent=1, default=str)
    if args.trace:
        chosen = {k: {"value": v, "unit": tracer.unit(k)} for k, v in out["per_layer"].items()}
    else:
        chosen = {k: {"value": v, "unit": u} for k, (v, u) in out["end_to_end"].items()}
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["detail"]["attempted"],
        "failed": out["detail"]["failed"],
        "metrics": chosen,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
