"""Change data feed: `_change_data` sidecars recorded by DML commits
when the `enableChangeDataFeed` table property is on, read back by
`table_changes` (Delta's CDF / table_changes TVF analogue).

Pinned invariants:
- every DML path (merge insert/update, delete both modes, update both
  modes) records the exact change rows, published atomically with the
  snapshot;
- table_changes is O(changes): pure sidecar reads with
  _commit_version/_commit_timestamp, never a snapshot diff;
- versions without a sidecar (pre-enablement, generic overwrite) are
  refused with a pointer at the read_changes fallback;
- compaction carries the record, clone drops it, purge scrubs erased
  rows out of every retained sidecar;
- CDF + identity columns is refused (fills are not replayable).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.sources import maintenance
from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
from tests.conftest import spark_jobs


def _make(spark, path, cdf=True):
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i * 10)) for i in range(1, 5)],
        ["id", "name", "bal"],
    )
    mt.commit_overwrite(
        df, path, keys=("id",),
        properties={"enableChangeDataFeed": True} if cdf else None,
    )


def _changes(spark, path, lo, hi=None):
    rows = mt.table_changes(spark, path, lo, hi).collect()
    return sorted((r.id, r._change_type, r._commit_version) for r in rows)


def test_initial_commit_records_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    got = mt.table_changes(spark, path, -1, 0).collect()
    assert {r._change_type for r in got} == {"insert"}
    assert {r.id for r in got} == {1, 2, 3, 4}
    assert all(r._commit_version == 0 for r in got)


def test_merge_records_pre_post_insert(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    src = spark.createDataFrame(
        [(2, "upd", 0.0), (9, "new", 99.0)], ["id", "name", "bal"]
    )
    mt.merge_upsert(spark, path, src, keys=("id",))
    assert _changes(spark, path, 0) == [
        (2, "update_postimage", 1),
        (2, "update_preimage", 1),
        (9, "insert", 1),
    ]
    # post-image values are the committed ones
    post = [
        r
        for r in mt.table_changes(spark, path, 0).collect()
        if r._change_type == "update_postimage"
    ]
    assert post[0].name == "upd" and post[0].bal == 0.0


def test_merge_by_source_delete_records_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    src = spark.createDataFrame([(1, "a", 1.0)], ["id", "name", "bal"])
    mt.merge_upsert(
        spark, path, src, keys=("id",), not_matched_by_source="delete"
    )
    got = _changes(spark, path, 0)
    assert (2, "delete", 1) in got and (3, "delete", 1) in got
    assert (1, "update_preimage", 1) in got


def test_delete_both_modes_record_deleted_rows(spark, tmp_path):
    for dv in (False, True):
        path = str(tmp_path / f"t{dv}")
        _make(spark, path)
        mt.delete_where(spark, path, "id >= 3", deletion_vectors=dv)
        got = _changes(spark, path, 0)
        assert got == [(3, "delete", 1), (4, "delete", 1)], (dv, got)


def test_update_both_modes_record_pre_and_post(spark, tmp_path):
    for dv in (False, True):
        path = str(tmp_path / f"t{dv}")
        _make(spark, path)
        mt.update_where(
            spark, path, "id = 2", {"bal": F.col("bal") + 1},
            deletion_vectors=dv,
        )
        rows = mt.table_changes(spark, path, 0).collect()
        by_type = {r._change_type: r for r in rows}
        assert by_type["update_preimage"].bal == 20.0, dv
        assert by_type["update_postimage"].bal == 21.0, dv


def test_multi_version_range_and_timestamps(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1")
    mt.delete_where(spark, path, "id = 2", deletion_vectors=True)
    got = _changes(spark, path, 0, 2)
    assert got == [(1, "delete", 1), (2, "delete", 2)]
    ts = {
        r._commit_version: r._commit_timestamp
        for r in mt.table_changes(spark, path, 0, 2).collect()
    }
    assert ts[1] <= ts[2]
    # sub-range
    assert _changes(spark, path, 1, 2) == [(2, "delete", 2)]


def test_pre_enablement_version_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path, cdf=False)
    mt.delete_where(spark, path, "id = 1")  # v1, no CDF
    mt.set_table_property(path, "enableChangeDataFeed", True)
    mt.delete_where(spark, path, "id = 2")  # v2, recorded
    with pytest.raises(ValueError, match="read_changes"):
        mt.table_changes(spark, path, 0, 2)
    assert _changes(spark, path, 1, 2) == [(2, "delete", 2)]


def test_generic_overwrite_has_no_sidecar(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    df = spark.createDataFrame([(7, "x", 7.0)], ["id", "name", "bal"])
    mt.commit_overwrite(df, path, keys=("id",))
    with pytest.raises(ValueError, match="read_changes"):
        mt.table_changes(spark, path, 0)


def test_compaction_carries_the_record(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 4")
    maintenance.compact(spark, path)
    assert _changes(spark, path, 0) == [(4, "delete", 1)]
    assert mt.table_detail(path)["has_change_data"]


def test_clone_drops_the_record(spark, tmp_path):
    path, dst = str(tmp_path / "t"), str(tmp_path / "c")
    _make(spark, path)
    mt.clone_table(path, dst)
    assert not os.path.isdir(os.path.join(dst, mt._CDF_DIR))
    assert not mt.table_detail(dst)["has_change_data"]
    # property carries: the clone's NEXT commit records again
    mt.delete_where(spark, dst, "id = 1")
    assert _changes(spark, dst, 0) == [(1, "delete", 1)]


def test_purge_scrubs_erased_rows_from_all_sidecars(spark, tmp_path):
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.update_where(spark, path, "id = 3", {"bal": F.lit(0.0)})  # v1
    out = maintenance.purge_rows(spark, path, "id = 3")
    assert out["cdf_rows_scrubbed"] >= 2  # v1 pre+post, purge delete
    for v in mt.list_versions(path):
        if v == 0:
            continue
        got = mt.table_changes(spark, path, v - 1, v).collect()
        assert all(r.id != 3 for r in got), (v, got)


def test_cdf_refused_with_identity(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], ["k", "name"]).withColumn(
        "rid", F.lit(None).cast("bigint")
    )
    with pytest.raises(ValueError, match="identity"):
        mt.commit_overwrite(
            df, path, keys=("k",),
            identity={"rid": {"start": 1, "step": 1}},
            properties={"enableChangeDataFeed": True},
        )
    mt.commit_overwrite(
        df, path, keys=("k",), identity={"rid": {"start": 1, "step": 1}}
    )
    with pytest.raises(ValueError, match="identity"):
        mt.set_table_property(path, "enableChangeDataFeed", True)


def test_generated_columns_recomputed_in_change_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "bal"])
    mt.commit_overwrite(
        df, path, keys=("id",),
        generated={"bal2": "bal * 2"},
        properties={"enableChangeDataFeed": True},
    )
    mt.update_where(spark, path, "id = 1", {"bal": F.lit(5.0)})
    rows = {
        r._change_type: r
        for r in mt.table_changes(spark, path, 0).collect()
    }
    assert rows["update_postimage"].bal2 == 10.0  # recomputed from 5.0
    assert rows["update_preimage"].bal2 == 20.0


def test_cdc_replication_end_to_end(spark, tmp_path):
    """The full Delta CDC story: a replica kept in sync purely from the
    change feed — table_changes(src) piped into apply_changes(replica)
    with _commit_version as the sequence. After arbitrary DMLs the
    replica equals the source without ever scanning it."""
    src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
    _make(spark, src)  # v0: 4 inserts, CDF on
    mt.apply_changes(
        spark, rep,
        mt.table_changes(spark, src, -1, 0).drop("_commit_timestamp"),
        keys=("id",), sequence_col="_commit_version",
    )
    mt.merge_upsert(
        spark, src,
        spark.createDataFrame([(2, "u", 0.0), (9, "n", 9.0)],
                              ["id", "name", "bal"]),
        keys=("id",), max_history=4,
    )  # v1
    mt.delete_where(spark, src, "id = 3", deletion_vectors=True)  # v2
    mt.update_where(spark, src, "id = 4", {"bal": F.lit(-4.0)})  # v3
    feed = mt.table_changes(spark, src, 0, 3).drop("_commit_timestamp")
    mt.apply_changes(
        spark, rep, feed, keys=("id",), sequence_col="_commit_version",
    )
    want = {
        (r.id, r.name, r.bal) for r in mt.read(spark, src).collect()
    }
    got = {
        (r.id, r.name, r.bal)
        for r in mt.read(spark, rep).select("id", "name", "bal").collect()
    }
    assert got == want and len(want) == 4


def test_streaming_cdf_source_backfills_and_tails(spark, tmp_path):
    """The streaming CDC tail (Delta readChangeFeed analogue): a
    Python-Data-Source stream over the _change_data sidecars.
    startingversion=0 backfills every recorded version; rows match the
    batch table_changes reader exactly."""
    from aws_callcenter_delta_lakehouse_spark.sources.pydatasource import (
        make_table_changes_stream_source,
    )

    src = str(tmp_path / "src")
    _make(spark, src)  # v0 inserts
    mt.delete_where(spark, src, "id = 3", deletion_vectors=True)  # v1
    mt.update_where(spark, src, "id = 4", {"bal": F.lit(-4.0)})  # v2

    spark.dataSource.register(make_table_changes_stream_source())
    stream = (
        spark.readStream.format("table_changes_stream")
        .option("path", src)
        .option("startingversion", 0)
        .load()
    )
    sink = f"cdf_sink_{abs(hash(src)) % 10**8}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.table(sink).collect()
    )
    want = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in mt.table_changes(spark, src, -1, 2).collect()
    )
    assert got == want and len(want) == 4 + 1 + 2


def test_streaming_cdf_source_resumes_only_new_versions(spark, tmp_path):
    """Checkpoint resume: the second run of the same query sees ONLY
    versions committed after the first drain — offsets are table
    versions derived from the marker, not reader state."""
    from aws_callcenter_delta_lakehouse_spark.sources.pydatasource import (
        make_table_changes_stream_source,
    )

    src = str(tmp_path / "src")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _make(spark, src)
    mt.delete_where(spark, src, "id = 1")  # v1

    spark.dataSource.register(make_table_changes_stream_source())

    def run_once():
        stream = (
            spark.readStream.format("table_changes_stream")
            .option("path", src)
            .option("startingversion", 1)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    mt.delete_where(spark, src, "id = 2", deletion_vectors=True)  # v2
    run_once()
    rows = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert rows == [(1, "delete", 1), (2, "delete", 2)]


def test_cdf_with_schema_evolution_aligns_columns(spark, tmp_path):
    """A widening merge under CDF: pre-images (old schema) and
    post-images/inserts (new schema) align by name in the sidecar —
    old-schema rows carry NULL for the new column."""
    path = str(tmp_path / "t")
    _make(spark, path)
    src = spark.createDataFrame(
        [(2, "upd", 0.0, "extra2"), (9, "new", 9.0, "extra9")],
        ["id", "name", "bal", "note"],
    )
    mt.merge_upsert(spark, path, src, keys=("id",), schema_evolution=True)
    rows = {
        (r.id, r._change_type): r
        for r in mt.table_changes(spark, path, 0).collect()
    }
    assert rows[(2, "update_preimage")].note is None
    assert rows[(2, "update_postimage")].note == "extra2"
    assert rows[(9, "insert")].note == "extra9"


def test_cdf_crash_before_marker_publishes_nothing(spark, tmp_path):
    """Kill the commit after the change sidecar is staged but before
    the marker: the staging dir is NOT committed-ready (marker is
    staged last), recover keeps the old snapshot, and neither the data
    nor the half-written feed is visible."""
    path = str(tmp_path / "t")
    _make(spark, path)
    orig = mt._write_cdf

    def boom(changes, staging):
        orig(changes, staging)
        raise RuntimeError("crash injected after sidecar write")

    mt._write_cdf = boom
    try:
        with pytest.raises(RuntimeError, match="crash injected"):
            mt.delete_where(spark, path, "id = 1")
    finally:
        mt._write_cdf = orig
    mt.recover(path)
    assert mt.read(spark, path).count() == 4  # old snapshot intact
    assert mt.table_version(path) == 0
    with pytest.raises(ValueError):  # no v1 feed exists
        mt.table_changes(spark, path, 0, 1)


def test_restore_records_its_diff_in_the_feed(spark, tmp_path):
    """RESTORE on a CDF table records the row diff it applies (Delta
    does the same), so the feed has no hole at the restore version."""
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1", max_history=4)  # v1
    mt.update_where(spark, path, "id = 2", {"bal": F.lit(0.0)},
                    max_history=4)  # v2
    out = mt.restore_table(spark, path, 0, max_history=4)  # v3
    assert out["new_version"] == 3
    got = _changes(spark, path, 2, 3)
    # the restore re-inserts id=1 and reverts id=2's balance
    assert (1, "insert", 3) in got
    assert (2, "update_postimage", 3) in got
    assert (2, "update_preimage", 3) in got
    post = [
        r
        for r in mt.table_changes(spark, path, 2, 3).collect()
        if r._change_type == "update_postimage"
    ]
    assert post[0].bal == 20.0  # the restored (original) value


def test_streaming_cdc_replication_exactly_once(spark, tmp_path):
    """The full streaming CDC loop: table_changes_stream ->
    foreach_batch_apply_changes replica, run twice over one checkpoint
    with DMLs between runs — the replica converges to the source and a
    replayed stream adds nothing (epoch guard + per-row _apply_seq)."""
    from aws_callcenter_delta_lakehouse_spark.sources.pydatasource import (
        make_table_changes_stream_source,
    )
    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        foreach_batch_apply_changes,
    )

    src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    _make(spark, src)
    spark.dataSource.register(make_table_changes_stream_source())

    def drain():
        stream = (
            spark.readStream.format("table_changes_stream")
            .option("path", src)
            .option("startingversion", 0)
            .load()
            .drop("_commit_timestamp")
        )
        q = foreach_batch_apply_changes(
            stream, rep, keys=("id",), sequence_col="_commit_version",
            checkpoint=ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()  # v0 backfill
    assert {r.id for r in mt.read(spark, rep).collect()} == {1, 2, 3, 4}
    mt.delete_where(spark, src, "id = 3", deletion_vectors=True)  # v1
    mt.merge_upsert(
        spark, src,
        spark.createDataFrame([(9, "n", 9.0)], ["id", "name", "bal"]),
        keys=("id",),
    )  # v2
    drain()  # only v1..v2
    want = {(r.id, r.bal) for r in mt.read(spark, src).collect()}
    got = {
        (r.id, r.bal)
        for r in mt.read(spark, rep).select("id", "bal").collect()
    }
    assert got == want == {(1, 10.0), (2, 20.0), (4, 40.0), (9, 9.0)}
    v_before = mt.table_version(rep)
    drain()  # no new source versions: replica must not move
    assert mt.table_version(rep) == v_before


def test_table_changes_plan_is_shuffle_free(spark, tmp_path):
    """Scale pin: the CDF reader is a union of sidecar scans plus
    literal commit columns — zero exchanges, zero joins."""
    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1")
    mt.delete_where(spark, path, "id = 2")
    plan = mt.table_changes(spark, path, 0, 2)._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_table_changes_builds_without_a_job(spark, tmp_path):
    """Each ``_change_data`` sidecar is scanned by its file list with
    the schema its own footers record: building the feed runs no Spark
    job and serves the rows and schema the inferred directory scans
    served."""
    path = str(tmp_path / "t")
    _make(spark, path)
    src = spark.createDataFrame(
        [(2, "upd", 0.0), (9, "new", 99.0)], ["id", "name", "bal"]
    )
    mt.merge_upsert(spark, path, src, keys=("id",))
    mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
    got, n_jobs = spark_jobs(spark, lambda: mt.table_changes(spark, path, 0, 2))
    assert n_jobs == 0
    parts = []
    for v in (1, 2):
        snap = path if v == 2 else os.path.join(mt._history_dir(path), f"v{v:06d}")
        parts.append(
            spark.read.parquet(os.path.join(snap, mt._CDF_DIR))
            .withColumn("_commit_version", F.lit(v).cast("int"))
            .withColumn(
                "_commit_timestamp", F.lit(float(mt._read_marker(snap)["ts"]))
            )
        )
    want = parts[0].unionByName(parts[1], allowMissingColumns=True)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )


def test_optimize_records_empty_change_set(spark, tmp_path):
    """An OPTIMIZE on a CDF table is a data-preserving version bump:
    its change record is EMPTY, and table_changes ranges crossing it
    keep working instead of refusing the feed."""
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        optimize_zorder,
    )

    path = str(tmp_path / "t")
    _make(spark, path)
    mt.delete_where(spark, path, "id = 1")  # v1
    optimize_zorder(spark, path, ["id"], target_file_bytes=4000)  # v2
    mt.delete_where(spark, path, "id = 2")  # v3
    got = _changes(spark, path, 0, 3)
    assert got == [(1, "delete", 1), (2, "delete", 3)]
