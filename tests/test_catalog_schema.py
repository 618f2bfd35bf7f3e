"""``catalog.load_table`` resolves a table's schema from a process-wide
memo instead of running Spark's schema-inference job on every open. The
memo is keyed on the realpath plus the Parquet reader confs that change
inference, and each entry holds the file signature it was inferred for,
so a rewritten file is re-inferred: regenerated testdata is never
served a stale schema."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_callcenter_delta_lakehouse_spark import catalog
from tests.conftest import spark_jobs

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_BINARY = "spark.sql.parquet.binaryAsString"


def test_second_load_runs_no_job_in_any_session(spark, tmp_path):
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64()), "s": ["a", "b", "c"]}),
        str(tmp_path / "t.parquet"),
    )
    sf = str(tmp_path)
    first, n_first = spark_jobs(spark, lambda: catalog.load_table(spark, sf, "t"))
    assert n_first == 1  # the one inference
    again, n_again = spark_jobs(spark, lambda: catalog.load_table(spark, sf, "t"))
    assert n_again == 0
    other = spark.newSession()
    fresh, n_fresh = spark_jobs(other, lambda: catalog.load_table(other, sf, "t"))
    assert n_fresh == 0
    assert first.schema == again.schema == fresh.schema
    assert sorted(r.id for r in fresh.collect()) == [1, 2, 3]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), path)
    sf = str(tmp_path)
    assert catalog.load_table(spark, sf, "t").columns == ["id"]
    # regenerated in place under the same name, with a new physical
    # schema (trap 11: events.ts changed its physical type once)
    pq.write_table(
        pa.table({"id": pa.array([7], pa.int32()), "extra": ["x"]}), path
    )
    df, n = spark_jobs(spark, lambda: catalog.load_table(spark, sf, "t"))
    assert n == 1
    assert df.schema.simpleString() == "struct<id:int,extra:string>"
    assert [tuple(r) for r in df.collect()] == [(7, "x")]
    # one entry per path: the stale one was replaced, not kept beside it
    entries = [v for k, v in catalog._SCHEMAS.items() if k[0] == os.path.realpath(path)]
    assert [schema for _sig, schema in entries] == [df.schema]


def test_reader_confs_key_separate_entries(spark, tmp_path):
    path = str(tmp_path / "n.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1_000_000_123], pa.timestamp("ns", tz="UTC")),
                "b": pa.array([b"x"], pa.binary()),
            }
        ),
        path,
    )
    saved = {c: spark.conf.get(c) for c in (_NANOS, _BINARY)}
    try:
        spark.conf.set(_BINARY, "false")
        spark.conf.set(_NANOS, "true")
        as_long = catalog.parquet_schema(spark, path)
        assert as_long.simpleString() == "struct<ts:bigint,b:binary>"
        # the same file with nanosAsLong off: Spark refuses the NANOS
        # column — the memo must not serve the other setting's entry
        spark.conf.set(_NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            catalog.parquet_schema(spark, path)
        # two correct entries side by side, each served without a job
        spark.conf.set(_NANOS, "true")
        spark.conf.set(_BINARY, "true")
        as_string = catalog.parquet_schema(spark, path)
        assert as_string.simpleString() == "struct<ts:bigint,b:string>"
        for flag, want in (("false", as_long), ("true", as_string)):
            spark.conf.set(_BINARY, flag)
            got, n = spark_jobs(spark, lambda: catalog.parquet_schema(spark, path))
            assert n == 0 and got == want
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)
