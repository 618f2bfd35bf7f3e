"""Deletion-vector DELETE (`delete_where(deletion_vectors=True)`) — the
Delta DV mode analogue: delete commits without rewriting data files
(hardlinked snapshot + a `_dv` position sidecar applied at scan), and
`maintenance.materialize_deletes` is REORG TABLE ... APPLY (PURGE).

The invariants pinned here:
- data files are byte-identical (same inodes) across a DV delete;
- reads (live, versioned, as-of) never serve a soft-deleted row;
- chained DV deletes merge vectors;
- any data-rewriting commit (merge/update/materialize) clears the DV;
- file-carrying maintenance (binpack, compact where=) refuses a DV
  table instead of resurrecting rows;
- purge_rows never resurrects DV'd rows out of history snapshots;
- the crash window is the standard stage-and-swap (recover heals).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.sources import maintenance
from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt


def _inodes(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        if mt._DV_DIR in os.path.relpath(root, path).split(os.sep):
            continue
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, f), path)
                out[rel] = os.stat(os.path.join(root, f)).st_ino
    return out


def _make(spark, path, partition_by=()):
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i * 10), i % 2) for i in range(1, 9)],
        ["id", "name", "bal", "grp"],
    ).repartition(2)
    mt.initial_write(df, path, partition_by=partition_by, keys=("id",))


def test_dv_sidecar_is_scanned_by_file_list(spark, tmp_path):
    """The vector is read from the sidecar's parquet files, never from
    its ``_``-led directory (Spark's hidden-path rule would ignore it);
    a vector whose sidecar lost its files refuses instead of serving the
    rows it hides."""
    from urllib.parse import urlparse

    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id IN (2, 7)", deletion_vectors=True)
    assert {r.id for r in mt.read(spark, path).collect()} == {1, 3, 4, 5, 6, 8}
    files = mt._sidecar_files(path, mt._DV_DIR)
    assert files and all(f.endswith(".parquet") for f in files)
    scanned = {urlparse(f).path for f in mt._dv_scan(spark, path).inputFiles()}
    assert scanned == set(files)
    for f in files:
        os.remove(f)
    with pytest.raises(ValueError, match="resurrect"):
        mt.read(spark, path)


def test_dv_delete_filters_rows_without_touching_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    before = _inodes(path)
    v0 = mt.table_version(path)
    mt.delete_where(spark, path, "bal > 50", deletion_vectors=True)
    after = _inodes(path)
    assert before == after  # same relative names, same inodes: zero rewrite
    assert {r.id for r in mt.read(spark, path).collect()} == {1, 2, 3, 4, 5}
    assert mt.table_version(path) == v0 + 1
    # time travel still serves the pre-image
    assert mt.read(spark, path, version=v0).count() == 8


def test_dv_null_predicate_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], ["id", "bal"]
    )
    mt.initial_write(df, path, partition_by=(), keys=("id",))
    mt.delete_where(spark, path, F.col("bal") > 15, deletion_vectors=True)
    assert {r.id for r in mt.read(spark, path).collect()} == {1, 2}


def test_dv_chained_deletes_merge_vectors(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    mt.delete_where(spark, path, "id = 2", deletion_vectors=True)
    assert {r.id for r in mt.read(spark, path).collect()} == set(range(3, 9))
    detail = mt.table_detail(path)
    assert detail["deletion_vector_rows"] == 2
    assert detail["num_rows"] == 6  # marker stats net of the vector


def test_dv_stats_and_history_operation(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id <= 3", deletion_vectors=True)
    hist = {r.version: r for r in mt.history(spark, path).collect()}
    live = mt.table_version(path)
    assert hist[live].operation == "delete_dv"
    assert hist[live].n_rows == 5


def test_dv_partitioned_table(spark, tmp_path):
    """Relative-path DV keys: with partitionBy the same task writes
    same-named part files into several partition dirs, so basenames
    collide — positions must still land on the right rows."""
    path = str(tmp_path / "t")
    _make(spark, path, partition_by=("grp",))
    mt.delete_where(spark, path, "id IN (1, 2)", deletion_vectors=True)
    assert {r.id for r in mt.read(spark, path).collect()} == set(range(3, 9))
    # both partition dirs untouched on disk
    assert mt.table_detail(path)["deletion_vector_rows"] == 2


def test_rewriting_commit_materializes_dv(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    src = spark.createDataFrame([(2, "upd", 0.0, 0)], ["id", "name", "bal", "grp"])
    mt.merge_upsert(spark, path, src, keys=("id",))
    assert mt.table_detail(path)["deletion_vector_rows"] == 0
    assert not os.path.isdir(os.path.join(path, mt._DV_DIR))
    ids = {r.id for r in mt.read(spark, path).collect()}
    assert 1 not in ids and 2 in ids


def test_materialize_deletes_reorg(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id >= 7", deletion_vectors=True)
    before = _inodes(path)
    out = maintenance.materialize_deletes(spark, path)
    assert out["materialized"] and out["dv_rows_removed"] == 2
    assert _inodes(path) != before  # fresh files
    assert mt.table_detail(path)["deletion_vector_rows"] == 0
    assert {r.id for r in mt.read(spark, path).collect()} == set(range(1, 7))
    # idempotent no-op afterwards
    assert maintenance.materialize_deletes(spark, path) == {
        "materialized": False
    }


def test_file_carrying_maintenance_refuses_dv(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    with pytest.raises(ValueError, match="materialize_deletes"):
        maintenance.compact_binpack(spark, path)


def test_purge_rows_never_resurrects_from_dv_history(spark, tmp_path):
    """A DV snapshot retired into __history keeps soft-deleted rows in
    its files; purge's history rewrite must apply that snapshot's own
    vector, not the raw parquet."""
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 8", deletion_vectors=True)  # v1: DV
    mt.delete_where(spark, path, "id = 7")  # v2: rewrite; v1 retires w/ DV
    out = maintenance.purge_rows(spark, path, "id = 6")
    assert out["live_removed"] == 1
    for v in mt.list_versions(path):
        got = {r.id for r in mt.read(spark, path, version=v).collect()}
        assert 6 not in got
        if v >= 1:  # the DV'd row must stay invisible in the rewritten v1
            assert 8 not in got


def test_dv_concurrent_commit_conflict(spark, tmp_path):
    """PERSISTENT contention: every commit attempt loses the version
    CAS — the bounded DML retry loop (r9) re-raises after its attempts
    and the loser leaves no staging behind. (One-shot conflicts now
    auto-retry and SUCCEED — pinned by the merge/delete retry tests in
    test_table_race.py.)"""
    import glob as _glob

    path = str(tmp_path / "t")
    _make(spark, path)
    import aws_callcenter_delta_lakehouse_spark.sources.managed_table as m

    def always_conflict(
        path_, staging, exists, version, max_history, tag, base_version,
        spark=None,
    ):
        m._fs().rmtree(staging)
        err = m.ConcurrentWriteError("simulated persistent conflict")
        err.base_version = base_version
        raise err

    m._checked_publish, saved = always_conflict, m._checked_publish
    try:
        with pytest.raises(mt.ConcurrentWriteError):
            mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    finally:
        m._checked_publish = saved
    # loser left no staging behind and the table is intact
    assert mt.read(spark, path).count() == 8
    assert not _glob.glob(path + "__staging_*")


def test_dv_clone_preserves_logical_rows(spark, tmp_path):
    path, dst = str(tmp_path / "t"), str(tmp_path / "c")
    _make(spark, path)
    mt.delete_where(spark, path, "id <= 2", deletion_vectors=True)
    mt.clone_table(path, dst)
    assert {r.id for r in mt.read(spark, dst).collect()} == set(range(3, 9))


def test_dv_crash_between_renames_heals(spark, tmp_path):
    """Kill the swap after the live dir moved away: recover must roll
    the committed-ready DV staging forward (its marker staged last)."""
    path = str(tmp_path / "t")
    _make(spark, path)
    fs = mt._fs()
    orig = fs.rename_dir
    boom = {"armed": True}

    def failing_rename(src, dst):
        if boom["armed"] and src == path:  # step (2): live -> backup
            orig(src, dst)
            boom["armed"] = False
            raise RuntimeError("crash injected after live dir moved")
        orig(src, dst)

    fs.rename_dir = failing_rename
    try:
        with pytest.raises(RuntimeError, match="crash injected"):
            mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    finally:
        fs.rename_dir = orig
    # the staging dir is committed-ready (marker last) -> rolls forward
    assert {r.id for r in mt.read(spark, path).collect()} == set(range(2, 9))
    assert mt.table_detail(path)["deletion_vector_rows"] == 1


def test_dv_update_appends_postimages_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    before = _inodes(path)
    mt.update_where(
        spark,
        path,
        "id <= 2",
        {"bal": F.col("bal") * 2, "name": F.upper("name")},
        deletion_vectors=True,
    )
    after = _inodes(path)
    # every original file survives untouched; only new files appear
    assert set(before) <= set(after)
    assert all(after[f] == i for f, i in before.items())
    assert len(after) > len(before)
    rows = {r.id: (r.name, r.bal) for r in mt.read(spark, path).collect()}
    assert rows[1] == ("N1", 20.0) and rows[2] == ("N2", 40.0)
    assert rows[3] == ("n3", 30.0)
    assert len(rows) == 8  # logical row count unchanged
    detail = mt.table_detail(path)
    assert detail["num_rows"] == 8 and detail["deletion_vector_rows"] == 2


def test_dv_update_after_dv_delete_composes(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    mt.update_where(
        spark, path, "id = 2", {"bal": F.lit(0.0)}, deletion_vectors=True
    )
    rows = {r.id: r.bal for r in mt.read(spark, path).collect()}
    assert 1 not in rows and rows[2] == 0.0 and len(rows) == 7
    # a second update must not resurrect id=1 as a post-image
    mt.update_where(
        spark, path, "bal = 0.0", {"name": F.lit("z")}, deletion_vectors=True
    )
    assert 1 not in {r.id for r in mt.read(spark, path).collect()}


def test_dv_update_respects_constraints_on_delta(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.add_constraint(spark, path, "bal_nonneg", "bal >= 0")
    with pytest.raises(mt.ConstraintViolationError):
        mt.update_where(
            spark, path, "id = 1", {"bal": F.lit(-5.0)},
            deletion_vectors=True,
        )
    # aborted: table unchanged, no vector
    assert mt.table_detail(path)["deletion_vector_rows"] == 0
    assert mt.read(spark, path).filter("bal < 0").count() == 0


def test_dv_update_pk_touch_falls_back_to_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    mt.commit_overwrite(df, path, keys=("id",), unique_keys=True)
    mt.update_where(
        spark, path, "id = 1", {"id": F.lit(9)}, deletion_vectors=True
    )
    assert {r.id for r in mt.read(spark, path).collect()} == {9, 2}
    # rewrite path: no vector
    assert mt.table_detail(path)["deletion_vector_rows"] == 0


def test_dv_update_partitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path, partition_by=("grp",))
    mt.update_where(
        spark, path, "id IN (1, 2)", {"bal": F.lit(-1.0)},
        deletion_vectors=True,
    )
    rows = {r.id: r.bal for r in mt.read(spark, path).collect()}
    assert rows[1] == -1.0 and rows[2] == -1.0 and len(rows) == 8


def test_zero_match_dv_delete_installs_no_vector(spark, tmp_path):
    """A DV delete matching nothing commits a new version but installs
    NO vector — later reads must not pay an anti-join that can never
    drop a row."""
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 999", deletion_vectors=True)
    assert mt.table_detail(path)["deletion_vector_rows"] == 0
    assert not mt._read_marker(path).get("dv")
    assert not os.path.isdir(os.path.join(path, mt._DV_DIR))
    assert mt.read(spark, path).count() == 8
    mt.update_where(
        spark, path, "id = 999", {"bal": F.lit(0.0)}, deletion_vectors=True
    )
    assert not mt._read_marker(path).get("dv")
    assert mt.read(spark, path).count() == 8


def test_dv_read_plan_broadcasts_the_vector(spark, tmp_path):
    """Scale pin: a DV read is scan + BROADCAST anti-join under the
    marker-recorded cardinality — no sort-merge shuffle of the table,
    no extra exchange beyond the broadcast."""
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    plan = mt.read(spark, path)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


@pytest.mark.parametrize("op", ["delete", "update"])
def test_dv_commit_abort_releases_cache_and_staging(
    spark, tmp_path, monkeypatch, op
):
    """A DV commit that fails after hardlinking its staging dir (here:
    the change-feed write) leaves no pinned RDD, no ``__staging_*`` dir,
    and the table at its old version and rows."""
    import glob

    path = str(tmp_path / "t")
    _make(spark, path)
    mt.set_table_property(path, "enableChangeDataFeed", True)
    v0 = mt.table_version(path)
    rows0 = sorted(tuple(r) for r in mt.read(spark, path).collect())
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())

    def boom(changes, staging):
        raise RuntimeError("change-feed write failed")

    monkeypatch.setattr(mt, "_write_cdf", boom)
    with pytest.raises(RuntimeError, match="change-feed write failed"):
        if op == "delete":
            mt.delete_where(spark, path, "id <= 2", deletion_vectors=True)
        else:
            mt.update_where(
                spark, path, "id <= 2", {"bal": F.lit(0.0)},
                deletion_vectors=True,
            )
    assert set(sc._jsc.getPersistentRDDs().keys()) == before
    assert not glob.glob(f"{path}__staging_*")
    assert mt.table_version(path) == v0
    assert sorted(tuple(r) for r in mt.read(spark, path).collect()) == rows0
