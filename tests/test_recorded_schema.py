"""Managed-table reads build their scan from the schema the commit
recorded in the marker (``file_schema``, or ``schema_json`` for a
zero-file snapshot), so ``managed_table.read`` runs no Spark job. Every
kind of commit that writes or keeps data files leaves a marker whose
recorded schema is exactly what inference over the snapshot serves."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.sources import maintenance as mx
from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
from tests.conftest import spark_jobs


def _inferred(spark, path):
    """What the read served before the marker recorded a schema:
    inference over the live snapshot, column mapping applied."""
    return mt._apply_column_mapping(
        spark.read.parquet(path), mt._read_marker(path)
    ).schema


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _table(spark, path, partitioned):
    mt.commit_overwrite(
        spark.range(0, 30).selectExpr(
            "id",
            "id * 2 AS v",
            "CAST(id % 3 AS STRING) AS part",  # digit-valued: inferred int
            "array(id) AS arr",
        ),
        path,
        keys=("id",),
        partition_by=("part",) if partitioned else (),
    )


def _rewrite(spark, path):
    mt.update_where(spark, path, "id = 1", {"v": F.lit(-1)})


def _append(spark, path):
    mt.append_rows(
        spark,
        spark.range(100, 104).selectExpr(
            "id", "id * 2 AS v", "CAST(id % 3 AS STRING) AS part",
            "array(id) AS arr",
        ),
        path,
    )


def _dv_delete(spark, path):
    mt.delete_where(spark, path, "id = 2", deletion_vectors=True)


def _dv_update(spark, path):
    mt.update_where(
        spark, path, "id = 3", {"v": F.lit(-3)}, deletion_vectors=True
    )


def _compact(spark, path):
    mt.append_rows(
        spark,
        spark.range(200, 201).selectExpr(
            "id", "id * 2 AS v", "CAST(id % 3 AS STRING) AS part",
            "array(id) AS arr",
        ),
        path,
    )
    mx.compact(spark, path)


def _rename_then_dv_delete(spark, path):
    mt.rename_column(spark, path, "v", "w")
    mt.delete_where(spark, path, "id = 4", deletion_vectors=True)


_OPS = {
    "rewrite": _rewrite,
    "append": _append,
    "dv_delete": _dv_delete,
    "dv_update": _dv_update,
    "compact": _compact,
    "mapped_dv_delete": _rename_then_dv_delete,
}


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "part"])
@pytest.mark.parametrize("op", sorted(_OPS))
def test_read_after_commit_runs_no_job(spark, tmp_path, op, partitioned):
    path = str(tmp_path / "t")
    _table(spark, path, partitioned)
    _OPS[op](spark, path)
    assert mt._read_marker(path).get("file_schema")
    df, n_jobs = spark_jobs(spark, lambda: mt.read(spark, path))
    assert n_jobs == 0
    assert df.schema == _inferred(spark, path)
    if partitioned:  # partition types come from the directory names
        assert df.schema["part"].dataType.simpleString() == "int"


def test_marker_without_file_schema_reads_the_same(spark, tmp_path):
    """A marker written before ``file_schema`` existed still reads: the
    scan infers, with the same rows and schema."""
    path = str(tmp_path / "t")
    _table(spark, path, partitioned=True)
    _dv_delete(spark, path)
    recorded = mt.read(spark, path)
    want_schema, want_rows = recorded.schema, _rows(recorded)
    marker = mt._read_marker(path)
    marker.pop("file_schema")
    mt._replace_marker(path, marker)
    legacy, n_jobs = spark_jobs(spark, lambda: mt.read(spark, path))
    assert n_jobs >= 1  # inference
    assert legacy.schema == want_schema
    assert _rows(legacy) == want_rows


def test_empty_snapshot_reads_schema_in_log_without_a_job(spark, tmp_path):
    path = str(tmp_path / "t")
    mt.commit_overwrite(
        spark.range(0).selectExpr("id", "CAST(id AS STRING) AS part"),
        path,
        partition_by=("part",),
    )
    marker = mt._read_marker(path)
    assert marker.get("schema_json") and "file_schema" not in marker
    df, n_jobs = spark_jobs(spark, lambda: mt.read(spark, path))
    assert n_jobs == 0
    assert df.schema.simpleString() == "struct<id:bigint,part:string>"
    assert df.count() == 0
    # DV DML on the empty table scans the same recorded schema
    mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    assert mt.read(spark, path).count() == 0


def test_disagreeing_files_leave_file_schema_unset(spark, tmp_path):
    """Inference reads one file's schema: when the staged files disagree
    the commit records nothing and reads infer as before."""
    path = str(tmp_path / "t")
    mt.commit_overwrite(spark.range(0, 4).selectExpr("id", "id AS v"), path)
    marker = mt._read_marker(path)
    # a file Spark wrote with another layout lands in the snapshot
    other = str(tmp_path / "other")
    spark.range(1).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.parquet(other)
    (part,) = [f for f in os.listdir(other) if f.endswith(".parquet")]
    os.rename(os.path.join(other, part), os.path.join(path, "zz-" + part))
    assert mt._snapshot_stats(path)["file_schema"] is None  # v: bigint vs int
    assert mt._snapshot_stats(path, marker["file_schema"])["file_schema"] is None


def test_convert_records_inferred_schema(spark, tmp_path):
    """``convert_to_managed`` stores the data columns it inferred, so the
    first read after conversion — of files with no Spark row schema in
    their footers — runs no job."""
    path = str(tmp_path / "plain")
    for k in (1, 2):
        os.makedirs(os.path.join(path, f"k={k}"))
        pq.write_table(
            pa.table({"x": pa.array([k, k * 10], pa.int64()), "s": ["a", "b"]}),
            os.path.join(path, f"k={k}", "part-0.parquet"),
        )
    mt.convert_to_managed(spark, path, partition_by=("k",))
    marker = mt._read_marker(path)
    assert "k" not in marker["file_schema"]
    df, n_jobs = spark_jobs(spark, lambda: mt.read(spark, path))
    assert n_jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    assert _rows(df) == [(1, "a", 1), (2, "a", 2), (10, "b", 1), (20, "b", 2)]
    # a DV commit keeps the files and so the recorded schema
    mt.delete_where(spark, path, "x = 1", deletion_vectors=True)
    assert mt._read_marker(path)["file_schema"] == marker["file_schema"]
    df, n_jobs = spark_jobs(spark, lambda: mt.read(spark, path))
    assert n_jobs == 0 and len(_rows(df)) == 3
