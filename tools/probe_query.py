#!/usr/bin/env python
"""Isolated query probe: warm + time one or more registry queries the
way bench.py does (noop sink, same session factory, bench.py's cleanup
between runs), and optionally dump ``explain("formatted")`` to a file.

Usage:
    python tools/probe_query.py QUERY [QUERY ...] [--reps N] [--plan-dir DIR]
    python tools/probe_query.py QUERY --plan-only --plan-dir plans/r13 --suffix before

Timing methodology matches the guide (§1.1/§1.4): warm once untimed
(JIT + codegen), then report each warm rep; host loadavg is printed so
a contaminated probe self-describes. The warm-up run's time is printed
as ``cold``: for the first query in the process that is the fresh-
session cost a bench sweep pays, so run one query per process to
measure it.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY  # noqa: E402
from aws_callcenter_delta_lakehouse_spark.session import get_spark  # noqa: E402
from bench import cleanup  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--plan-only", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="probe")

    print("loadavg %.2f %.2f %.2f" % os.getloadavg())
    for name in args.queries:
        fn = REGISTRY[name].fn
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt")
            with open(out, "w") as fh:
                fh.write(plan)
            print(f"{name}: plan -> {out}")
            cleanup(spark)
            if args.plan_only:
                continue
        # warm-up, reported as cold
        spark.sparkContext.setJobDescription(f"warm:{name}")
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        cold = time.perf_counter() - t0
        cleanup(spark)
        times = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"probe:{name}:{rep}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            times.append(time.perf_counter() - t0)
            cleanup(spark)
        print(
            "%s: cold %.3f  warm reps %s  min %.3f"
            % (name, cold, " ".join("%.3f" % t for t in times), min(times))
        )
    spark.stop()


if __name__ == "__main__":
    main()
