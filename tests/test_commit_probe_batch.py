"""The staged-snapshot commit probes (CHECK constraints, PRIMARY-KEY
duplicate existence, identity high-water maxes, row-id max) fuse into
ONE batched aggregate job over ONE staged-parquet scan (r13 verdict
item 6 / guide §2.4). These tests pin the fusion — each pre-batch probe
built its own ``spark.read.parquet(staging)`` scan, 1:1 with its own
action, so counting staged-scan constructions pins the action count —
and re-assert the semantics the probes enforce."""

import os

import pyspark.sql.readwriter as _rw
import pytest

import aws_callcenter_delta_lakehouse_spark.sources.managed_table as mt
from aws_callcenter_delta_lakehouse_spark.sources.managed_table import (
    ConstraintViolationError,
)


class _ScanCounter:
    """Counts DataFrameReader.parquet() constructions per path needle."""

    def __init__(self, monkeypatch, needle):
        self.count = 0
        orig = _rw.DataFrameReader.parquet

        def counted(reader, *paths, **kw):
            if any(needle in p for p in paths):
                self.count += 1
            return orig(reader, *paths, **kw)

        monkeypatch.setattr(_rw.DataFrameReader, "parquet", counted)


def test_all_probes_fuse_into_one_staged_scan(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    mt.commit_overwrite(
        spark.range(0, 50).selectExpr("id", "id * 2 AS v"),
        path,
        keys=("id",),
        unique_keys=True,
        identity={"seq": {"start": 1, "step": 1}},
        properties={"enableRowTracking": True},
    )
    mt.add_constraint(spark, path, "v_nonneg", "v >= 0")
    counter = _ScanCounter(monkeypatch, "__staging_")
    mt.commit_overwrite(
        spark.range(0, 60).selectExpr("id", "id * 3 AS v"),
        path,
        keys=("id",),
        unique_keys=True,
    )
    # constraints + PK + identity + row-id probes: ONE staged scan,
    # was 3-4 serial scan+action pairs
    assert counter.count == 1
    marker = mt._read_marker(path)
    # the fused probe still advanced the identity/row-id high waters
    assert int(marker["identity"]["seq"]["high_water"]) >= 50
    assert int(marker["row_tracking"]["high_water"]) >= 49
    assert mt.read(spark, path).count() == 60


def test_fused_probe_still_aborts_on_constraint(spark, tmp_path):
    path = str(tmp_path / "t")
    mt.commit_overwrite(
        spark.range(0, 10).selectExpr("id", "id * 2 AS v"), path, keys=("id",)
    )
    mt.add_constraint(spark, path, "v_nonneg", "v >= 0")
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        mt.commit_overwrite(
            spark.range(0, 10).selectExpr("id", "id - 5 AS v"),
            path,
            keys=("id",),
        )
    # table unchanged, no staging leftovers
    assert mt.read(spark, path).count() == 10
    leftovers = [
        d
        for d in os.listdir(os.path.dirname(path))
        if "__staging_" in d
    ]
    assert leftovers == []


def test_fused_probe_still_names_duplicate_key(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
    )
    with pytest.raises(ConstraintViolationError, match="PRIMARY KEY"):
        mt.commit_overwrite(df, path, keys=("id",), unique_keys=True)


def test_fused_probe_counts_null_keyed_duplicates(spark, tmp_path):
    # GROUP BY groups NULL keys together; the count_distinct(struct(...))
    # existence probe must agree (struct() never nulls out, so NULL-keyed
    # rows stay countable)
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), (2, "c")], "id int, v string"
    )
    with pytest.raises(ConstraintViolationError, match="PRIMARY KEY"):
        mt.commit_overwrite(df, path, keys=("id",), unique_keys=True)


def test_append_probes_fuse_into_one_aggregate(spark, tmp_path, monkeypatch):
    """A blind append runs the same fused probe over the appended files
    (CHECK + batch PK + identity max + row-id max in ONE aggregate) plus
    the one clash join against the live keys — two actions over the
    staged files, where it used to run five."""
    from pyspark.sql.classic.dataframe import DataFrame

    path = str(tmp_path / "t")
    mt.commit_overwrite(
        spark.range(0, 50).selectExpr("id", "id * 2 AS v"),
        path,
        keys=("id",),
        unique_keys=True,
        identity={"seq": {"start": 1, "step": 1}},
        properties={"enableRowTracking": True},
    )
    mt.add_constraint(spark, path, "v_nonneg", "v >= 0")
    staged_actions = []
    orig = DataFrame.collect

    def counted(df):
        if any("__staging_" in f for f in df.inputFiles()):
            staged_actions.append(df)
        return orig(df)

    monkeypatch.setattr(DataFrame, "collect", counted)
    mt.append_rows(
        spark, spark.range(100, 110).selectExpr("id", "id * 2 AS v"), path
    )
    monkeypatch.undo()
    assert len(staged_actions) == 2
    marker = mt._read_marker(path)
    assert int(marker["identity"]["seq"]["high_water"]) >= 60
    assert int(marker["row_tracking"]["high_water"]) >= 59
    assert mt.read(spark, path).count() == 60
