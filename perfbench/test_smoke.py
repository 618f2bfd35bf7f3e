"""Smoke test of the benchmark itself, at the tiny input size (the
sf0.001-sized read dataset and 2,000-row CSV batches).

    python3 -m pytest perfbench/test_smoke.py -q

For each workload it runs the benchmark untraced and traced and checks that
the run exits 0, that every output check passed, and that the last line
names exactly the metrics ``BENCHMARK.json`` declares, each with its unit.
A second check runs the benchmark without the engine next to it and expects
a non-zero exit and no result.  Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int, results: str) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny", "--results", results,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_declared_metric_is_emitted(workload: str, trace: int, tmp_path) -> None:
    proc = _run(ROOT, workload, trace, str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, result
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result
    assert not os.path.exists(os.path.join(ROOT, ".bench_run")), "run dir left behind"


def test_fails_without_the_engine() -> None:
    bare = tempfile.mkdtemp()
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, SPEC["workloads"][0]["name"], 0, os.path.join(bare, "out"))
        assert proc.returncode != 0
        assert proc.stdout.strip() == ""
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
