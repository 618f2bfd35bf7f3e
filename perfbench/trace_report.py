"""Read the trace files a traced run writes (``.bench_results/*-trace.json``).

    python3 perfbench/trace_report.py A-trace.json             # one run
    python3 perfbench/trace_report.py A-trace.json B-trace.json  # B vs A

For each layer it prints the self time (span time minus the time of the
spans it called), the number of spans, and the Spark executor time of the
jobs the layer's spans issued.  With two files it prints both and the
change per layer, so a perf change can show which layer its gain came from.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracer import layer_self_times  # noqa: E402


def summarize(path: str) -> dict[str, dict[str, float]]:
    with open(path) as fh:
        trace = json.load(fh)
    spans = trace["spans"]
    by_id = {s["id"]: s for s in spans}
    out = {
        layer: {"self_s": v, "spans": 0, "executor_s": 0.0}
        for layer, v in layer_self_times(spans, trace["window_s"]).items()
    }
    for s in spans:
        out[s["layer"]]["spans"] += 1
    for sid, work in trace["spark_work"].items():
        span = by_id.get(int(sid))
        if span is not None:
            out[span["layer"]]["executor_s"] += work["executor_run_s"]
    out["total"] = {
        "self_s": trace["window_s"],
        "spans": len(spans),
        "executor_s": sum(w["executor_run_s"] for w in trace["spark_work"].values()),
    }
    return out


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    runs = [summarize(p) for p in argv]
    layers = sorted(set().union(*runs), key=lambda k: (k == "total", k))
    head = f"{'layer':<15}" + "".join(
        f"{'self_s':>10}{'spans':>8}{'exec_s':>10}" for _ in runs)
    if len(runs) == 2:
        head += f"{'d_self_s':>10}{'ratio':>8}"
    print(head)
    for layer in layers:
        row = [r.get(layer, {"self_s": 0.0, "spans": 0, "executor_s": 0.0}) for r in runs]
        line = f"{layer:<15}" + "".join(
            f"{r['self_s']:>10.3f}{r['spans']:>8d}{r['executor_s']:>10.3f}" for r in row)
        if len(runs) == 2:
            a, b = row[0]["self_s"], row[1]["self_s"]
            line += f"{b - a:>+10.3f}" + (f"{b / a:>8.2f}" if a > 0 else f"{'-':>8}")
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
