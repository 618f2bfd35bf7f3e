"""Prove-or-probe MERGE: the multiple-source-match probe runs only when
Catalyst cannot prove the source holds at most one row per merge key.
A proven source (``groupBy(keys)``, ``dropDuplicates(keys)``, a one-row
``SELECT``) commits with no probe action; an unproven one still probes
and still raises on a duplicate matched key, leaving the table as it
was. Probe actions are counted by patching ``isEmpty`` on the session's
concrete DataFrame class (PySpark 4's classic subclass — patching the
``pyspark.sql.DataFrame`` base would not reach it)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
from aws_callcenter_delta_lakehouse_spark.sources import sql_dml, txn_catalog
from aws_callcenter_delta_lakehouse_spark.sources.delta_api import DeltaTable

_DISTINCT_KEYS = "spark.sql.optimizer.propagateDistinctKeys.enabled"


@pytest.fixture()
def probes(spark, monkeypatch):
    """A list that grows by one per ``isEmpty`` action."""
    cls = type(spark.range(0))
    calls = []
    orig = cls.isEmpty

    def counted(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "isEmpty", counted)
    return calls


def _make(spark, path):
    mt.commit_overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
        ),
        path,
        keys=("id",),
    )


def _rows(spark, path):
    return sorted(tuple(r) for r in mt.read(spark, path).collect())


def _src(spark, rows):
    """An unproven source: a Python-list frame has no row bound and no
    distinct keys."""
    return spark.createDataFrame(rows, "id long, name string, v long")


# -- proven: no probe ---------------------------------------------------------


def test_gold_shaped_source_runs_no_probe(spark, tmp_path, probes):
    """The Gold job's shape: an aggregate grouped by exactly the merge
    keys over a cached frame, stamped with literal partition columns."""
    day = dt.date(2024, 5, 1)
    base = spark.createDataFrame(
        [(i, i % 3, "COMPLETED" if i % 2 else "FAILED") for i in range(30)],
        "call_id long, agent_id long, call_status string",
    ).withColumn("call_date", F.lit(day)).cache()
    try:

        def gold(keys):
            return (
                base.groupBy(*keys)
                .agg(F.count("*").alias("total_calls"))
                .withColumns({"year": F.year(F.lit(day)), "month": F.month(F.lit(day))})
            )

        for keys in (["call_date"], ["call_date", "agent_id"]):
            path = str(tmp_path / "_".join(keys))
            assert mt.write_or_merge(spark, gold(keys), path, keys, ("year", "month")) == "initial"
            assert mt.write_or_merge(spark, gold(keys), path, keys, ("year", "month")) == "merged"
            assert {tuple(r) for r in mt.read(spark, path).select(*keys, "total_calls").collect()} == {
                tuple(r) for r in gold(keys).select(*keys, "total_calls").collect()
            }
    finally:
        base.unpersist()
    assert probes == []


def test_single_row_sql_merge_runs_no_probe(spark, tmp_path, probes):
    registry, path = str(tmp_path / "registry"), str(tmp_path / "t")
    _make(spark, path)
    txn_catalog.register_table_name(registry, "pdb.t", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        for i, name in ((2, "b2"), (7, "g")):
            sql_dml.sql(
                spark,
                f"MERGE INTO pdb.t AS t USING (SELECT {i} AS id, '{name}' AS name, "
                f"{i * 10} AS v) AS s ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            )
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")
    assert probes == []
    assert _rows(spark, path) == [(1, "a", 10), (2, "b2", 20), (3, "c", 30), (7, "g", 70)]


def test_dropped_duplicates_source_runs_no_probe(spark, tmp_path, probes):
    path = str(tmp_path / "t")
    _make(spark, path)
    src = _src(spark, [(2, "x", 5), (9, "z", 9)]).dropDuplicates(["id"])
    mt.merge_upsert(spark, path, src, ["id"])
    assert probes == []
    assert _rows(spark, path) == [(1, "a", 10), (2, "x", 5), (3, "c", 30), (9, "z", 9)]


def test_one_row_general_merge_runs_no_probe(spark, tmp_path, probes):
    path = str(tmp_path / "t")
    _make(spark, path)
    one = spark.sql("SELECT CAST(2 AS BIGINT) AS id, 'u' AS name, CAST(0 AS BIGINT) AS v")
    (
        DeltaTable.forPath(spark, path).alias("t")
        .merge(one, "t.id = s.id")
        .whenMatchedUpdate(set={"name": "s.name"})
        .execute()
    )
    assert probes == []
    assert _rows(spark, path) == [(1, "a", 10), (2, "u", 20), (3, "c", 30)]


# -- unproven: one source-only probe -------------------------------------------


def test_unproven_unique_source_probes_once(spark, tmp_path, probes):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.merge_upsert(spark, path, _src(spark, [(1, "x", 1), (8, "y", 8)]), ["id"])
    assert len(probes) == 1
    assert _rows(spark, path) == [(1, "x", 1), (2, "b", 20), (3, "c", 30), (8, "y", 8)]


def test_distinct_keys_off_makes_every_merge_probe(spark, tmp_path, probes):
    path = str(tmp_path / "t")
    _make(spark, path)
    spark.conf.set(_DISTINCT_KEYS, "false")
    try:
        src = _src(spark, [(2, "x", 5)]).dropDuplicates(["id"])
        mt.merge_upsert(spark, path, src, ["id"])
        one = spark.sql("SELECT CAST(3 AS BIGINT) AS id, 'w' AS name, CAST(1 AS BIGINT) AS v")
        mt.merge_upsert(spark, path, one, ["id"])
    finally:
        spark.conf.unset(_DISTINCT_KEYS)
    assert len(probes) == 2
    assert _rows(spark, path) == [(1, "a", 10), (2, "x", 5), (3, "w", 1)]


# -- unproven with a duplicate matched key: still raises ------------------------


def test_group_by_wider_than_keys_still_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    src = (
        _src(spark, [(1, "x", 1), (1, "y", 2), (5, "z", 3)])
        .groupBy("id", "name")
        .agg(F.max("v").alias("v"))
    )
    with pytest.raises(ValueError, match="MULTIPLE_SOURCE_ROW"):
        mt.merge_upsert(spark, path, src, ["id"])
    assert _rows(spark, path) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_multi_row_values_sql_merge_still_raises(spark, tmp_path):
    registry, path = str(tmp_path / "registry"), str(tmp_path / "t")
    _make(spark, path)
    txn_catalog.register_table_name(registry, "pdb.t", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        with pytest.raises(ValueError, match="multiple source rows"):
            sql_dml.sql(
                spark,
                "MERGE INTO pdb.t AS t USING (SELECT * FROM VALUES "
                "(CAST(1 AS BIGINT), 'x', CAST(1 AS BIGINT)), "
                "(CAST(1 AS BIGINT), 'y', CAST(2 AS BIGINT)) AS v(id, name, v)) AS s "
                "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *",
            )
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")
    assert _rows(spark, path) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_fanned_out_join_source_still_raises(spark, tmp_path):
    """Unique before the join; the join repeats key 2 once per match."""
    path = str(tmp_path / "t")
    _make(spark, path)
    uniq = _src(spark, [(2, "x", 1), (6, "y", 2)]).dropDuplicates(["id"])
    tags = spark.createDataFrame([(2, "p"), (2, "q"), (6, "r")], "id long, tag string")
    src = uniq.join(tags, "id").drop("tag")
    with pytest.raises(ValueError, match="MULTIPLE_SOURCE_ROW"):
        mt.merge_upsert(spark, path, src, ["id"])
    assert _rows(spark, path) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_two_row_duplicate_general_merge_still_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    with pytest.raises(ValueError, match="multiple source rows"):
        (
            DeltaTable.forPath(spark, path).alias("t")
            .merge(_src(spark, [(3, "x", 1), (3, "y", 2)]), "t.id = s.id")
            .whenMatchedUpdate(set={"v": "s.v"})
            .execute()
        )
    assert _rows(spark, path) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


# -- the proof itself ---------------------------------------------------------


def test_key_unique_proves_only_key_subsets(spark):
    df = spark.range(10).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("other")
    )
    by_k = df.groupBy("k").count()
    assert mt._key_unique(by_k, ["k"])
    assert mt._key_unique(by_k, ["K"])  # resolution is case-insensitive
    assert mt._key_unique(by_k, ["k", "count"])  # a superset of a unique set
    assert not mt._key_unique(by_k, ["count"])
    assert not mt._key_unique(by_k, ["missing"])
    assert not mt._key_unique(df.groupBy("k", "other").count(), ["k"])
    # grouped by an expression of k, not k itself: proves nothing for k
    shifted = df.groupBy((F.col("k") + 1).alias("k1")).agg(F.max("k").alias("k"))
    assert not mt._key_unique(shifted, ["k"])
    assert mt._key_unique(df.limit(1), [])
    assert not mt._key_unique(df.limit(2), [])
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        assert not mt._key_unique(df.groupBy("k").count(), ["K"])
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
