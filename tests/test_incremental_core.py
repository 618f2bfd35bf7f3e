"""One incremental-maintenance core: the streaming Gold fold keeps its
table schema, the ``incremental_gold_refresh`` query keeps its output
columns, and the single-helper invariants hold — every
``writeStream.foreachBatch`` and every ``last_epoch`` in ``streaming/``
sits in ``streams._ExactlyOnce``, and nothing imports the retired
``sources.incremental`` module."""

from __future__ import annotations

import ast
import shutil
from pathlib import Path

import pytest

import aws_callcenter_delta_lakehouse_spark as pkg
from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
    foreach_batch_incremental_gold,
)
from tests.conftest import SF001

ROOT = Path(pkg.__file__).parent
STREAMS = ROOT / "streaming" / "streams.py"


@pytest.mark.parametrize(
    "sum_type, sum_dtype", [("int", "bigint"), ("double", "double")]
)
def test_incremental_gold_table_schema(spark, tmp_path, sum_type, sum_dtype):
    """The Gold fold's table is ``(keys..., n_rows, sum_value)`` with the
    same types after the first (table-creating) fold and after a fold
    into the existing table; an INT measure sums to BIGINT, as the
    streamed Gold check in the medallion benchmark reads it."""
    schema = f"agent_id int, caller_id {sum_type}"
    src = tmp_path / "src"
    src.mkdir()
    agg_path = str(tmp_path / "gold")
    want = [("agent_id", "int"), ("n_rows", "bigint"), ("sum_value", sum_dtype)]
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = foreach_batch_incremental_gold(
        stream, agg_path, ("agent_id",), "caller_id", str(tmp_path / "ckpt")
    )
    try:
        for name, rows in (("a", [(1, 5), (2, 7), (1, 1)]), ("b", [(2, 3), (3, 4)])):
            stage = tmp_path / ("stage_" + name)
            spark.createDataFrame(rows, "agent_id int, caller_id int").selectExpr(
                "agent_id", f"CAST(caller_id AS {sum_type}) AS caller_id"
            ).coalesce(1).write.parquet(str(stage))
            for f in stage.glob("*.parquet"):
                shutil.copy(f, src / (name + ".parquet"))
            q.processAllAvailable()
            assert mt.read(spark, agg_path).dtypes == want
    finally:
        q.stop()
    got = {tuple(r) for r in mt.read(spark, agg_path).collect()}
    assert got == {(1, 2, 6), (2, 2, 10), (3, 1, 4)}


def test_incremental_gold_refresh_output_columns(spark):
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY

    df = REGISTRY["incremental_gold_refresh"].fn(spark, SF001)
    assert df.dtypes == [("grp", "string"), ("n_rows", "bigint"), ("sum_cents", "bigint")]


def _helper_lines() -> range:
    (cls,) = [
        n for n in ast.parse(STREAMS.read_text()).body
        if isinstance(n, ast.ClassDef) and n.name == "_ExactlyOnce"
    ]
    return range(cls.lineno, cls.end_lineno + 1)


def test_exactly_once_sinks_go_through_one_helper():
    """No ``writeStream.foreachBatch`` in the package and no
    ``"last_epoch"`` literal in ``streaming/`` outside the helper."""
    helper = _helper_lines()
    offenders = []
    for path in sorted(ROOT.rglob("*.py")):
        in_streaming = path.parent.name == "streaming"
        for node in ast.walk(ast.parse(path.read_text())):
            if path == STREAMS and getattr(node, "lineno", -1) in helper:
                continue
            foreach_batch = (
                isinstance(node, ast.Attribute)
                and node.attr == "foreachBatch"
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "writeStream"
            )
            epoch_key = (
                in_streaming
                and isinstance(node, ast.Constant)
                and node.value == "last_epoch"
            )
            if foreach_batch or epoch_key:
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == []


def test_nothing_imports_sources_incremental():
    """The count/sum fold lives in ``sources/incremental_mv.py``; the
    module that duplicated it is gone and stays gone."""
    assert not (ROOT / "sources" / "incremental.py").exists()
    offenders = []
    for path in sorted(ROOT.rglob("*.py")) + sorted((ROOT.parent / "tests").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level == 1:  # relative to the importing package
                    mod = f"{path.parent.name}.{mod}".rstrip(".")
                names = [mod] + [f"{mod}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            if any(n.split(".")[-2:] == ["sources", "incremental"] for n in names):
                offenders.append(f"{path}:{node.lineno}")
    assert offenders == []
