"""Incremental aggregate refresh == full recompute, across the whole
CDC surface (inserts, updates, deletes, group birth and death)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
from aws_callcenter_delta_lakehouse_spark.sources.incremental_mv import (
    fold_change_deltas,
)


def _agg(df):
    return df.groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )


def _snap(df):
    return {
        (r.grp, r.n_rows, r.sum_cents)
        for r in df.collect()
    }


def test_incremental_refresh_matches_recompute(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 250), (3, "b", 40), (4, "c", 7)],
        "id long, grp string, cents long",
    )
    mt.initial_write(base, path, keys=("id",))
    v0 = mt.table_version(path)
    old_agg = _agg(mt.read(spark, path)).localCheckpoint(eager=True)

    # update id=2 (a: sum changes), insert id=5 into NEW group d (group
    # birth), delete both b rows -> none exist (group death via update
    # making id=3 group c), delete id=4
    src = spark.createDataFrame(
        [(2, "a", 300), (5, "d", 11), (3, "c", 40)],
        "id long, grp string, cents long",
    )
    mt.merge_upsert(spark, path, src, keys=("id",))
    mt.delete_where(spark, path, "id = 4")
    v2 = mt.table_version(path)

    changes = mt.read_changes(spark, path, v0, v2, keys=("id",))
    refreshed = fold_change_deltas(
        old_agg, changes, ["grp"], {"sum_cents": ("sum", "cents")},
        count_col="n_rows",
    )
    recomputed = _agg(mt.read(spark, path))
    assert _snap(refreshed) == _snap(recomputed)
    # group 'b' died (update moved its only row) and must be ABSENT,
    # not present with zero count
    assert all(r.grp != "b" for r in refreshed.collect())


def test_incremental_refresh_noop_changes(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 250)], "id long, grp string, cents long"
    )
    mt.initial_write(base, path, keys=("id",))
    v0 = mt.table_version(path)
    old_agg = _agg(mt.read(spark, path)).localCheckpoint(eager=True)
    # merge an IDENTICAL row: the bag-subtract diff is empty
    mt.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "a", 100)], "id long, grp string, cents long"),
        keys=("id",),
    )
    changes = mt.read_changes(spark, path, v0, keys=("id",))
    refreshed = fold_change_deltas(
        old_agg, changes, ["grp"], {"sum_cents": ("sum", "cents")},
        count_col="n_rows",
    )
    assert _snap(refreshed) == _snap(old_agg)


def test_incremental_refresh_null_grouping_key(spark, tmp_path):
    # GROUP BY collects all NULL keys into ONE group; the refresh join
    # must be null-safe so the NULL group's delta merges into its old
    # row instead of dangling beside it (stale row + unmerged delta)
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, None, 100), (2, None, 50), (3, "a", 7)],
        "id long, grp string, cents long",
    )
    mt.initial_write(base, path, keys=("id",))
    v0 = mt.table_version(path)
    old_agg = _agg(mt.read(spark, path)).localCheckpoint(eager=True)

    # insert another NULL-keyed row and delete one: net NULL group
    # change (+1 row, -50+11 cents); group 'a' untouched
    src = spark.createDataFrame([(4, None, 11)], "id long, grp string, cents long")
    mt.merge_upsert(spark, path, src, keys=("id",))
    mt.delete_where(spark, path, "id = 2")
    changes = mt.read_changes(spark, path, v0, mt.table_version(path), keys=("id",))

    refreshed = fold_change_deltas(
        old_agg, changes, ["grp"], {"sum_cents": ("sum", "cents")},
        count_col="n_rows",
    )
    assert _snap(refreshed) == _snap(_agg(mt.read(spark, path)))
    # exactly ONE row for the NULL group
    assert sum(1 for r in refreshed.collect() if r.grp is None) == 1


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_join_mv_fact_changes_matches_recompute(spark, tmp_path):
    from aws_callcenter_delta_lakehouse_spark.sources.incremental_mv import (
        refresh_join_mv_fact_changes,
    )

    path = str(tmp_path / "fact")
    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 7.0), (3, 10, 9.0)],
        "fk long, dk long, v double",
    )
    dim = spark.createDataFrame(
        [(10, "x"), (20, "y"), (30, "z")], "dk long, attr string"
    )
    mt.initial_write(fact, path, keys=("fk",))
    v0 = mt.table_version(path)
    old_mv = mt.read(spark, path).join(dim, "dk").select(
        "fk", "dk", "v", "attr"
    ).localCheckpoint(eager=True)

    # update fk=2 (moves to dim 30), insert fk=4, delete fk=3
    mt.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, 30, 7.5), (4, 20, 1.0)], "fk long, dk long, v double"),
        keys=("fk",),
    )
    mt.delete_where(spark, path, "fk = 3")
    changes = mt.read_changes(spark, path, v0, mt.table_version(path), keys=("fk",))

    refreshed = refresh_join_mv_fact_changes(
        old_mv, changes, dim, fact_key=["fk"], join_on=["dk"]
    )
    recomputed = mt.read(spark, path).join(dim, "dk").select("fk", "dk", "v", "attr")
    assert _rows(refreshed) == _rows(recomputed)


def test_join_mv_dim_update_rewrites_in_place(spark):
    from aws_callcenter_delta_lakehouse_spark.sources.incremental_mv import (
        refresh_join_mv_dim_update,
    )

    mv = spark.createDataFrame(
        [(1, 10, 5.0, "x"), (2, 20, 7.0, "y"), (3, 10, 9.0, "x")],
        "fk long, dk long, v double, attr string",
    )
    dim_post = spark.createDataFrame([(10, "X2")], "dk long, attr string")
    out = refresh_join_mv_dim_update(mv, dim_post, dim_key=["dk"], dim_cols=["attr"])
    assert _rows(out) == {
        (1, 10, 5.0, "X2"),
        (3, 10, 9.0, "X2"),
        (2, 20, 7.0, "y"),
    }
