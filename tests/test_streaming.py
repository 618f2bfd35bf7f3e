"""Streaming-surface tests: stateful dedup and the foreachBatch MERGE
sink (the streaming analogue of the reference's batch late-data MERGE)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.sources import managed_table
from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
    dedup_stream,
    run_to_memory,
    stream_events,
    tumbling_counts,
)
from tests.conftest import SF001


def test_dedup_stream_by_user(spark):
    """dropDuplicatesWithinWatermark keyed by user_id: one row per user
    after draining (single micro-batch -> deterministic)."""
    stream = stream_events(spark, SF001)
    out = run_to_memory(
        dedup_stream(stream, ["user_id"]), "dedup_t", output_mode="append"
    )
    n_users = out.select("user_id").distinct().count()
    assert out.count() == n_users > 0


def test_foreach_batch_upsert(spark, tmp_path):
    """Each micro-batch MERGEs into the managed table; the final table
    equals the batch aggregate."""
    target = str(tmp_path / "agg_table")
    agg = tumbling_counts(stream_events(spark, SF001))
    # complete-mode foreachBatch re-merges the whole aggregate per batch
    q = (
        agg.writeStream.foreachBatch(
            lambda df, _eid: managed_table.write_or_merge(
                df.sparkSession, df, target, ["window_start"]
            )
        )
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = managed_table.read(spark, target)
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table

    want = (
        load_table(spark, SF001, "events")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    g = {(r.window_start, r.n_events) for r in got.select("window_start", "n_events").collect()}
    w = {(r.window_start, r.n_events) for r in want.collect()}
    assert g == w


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_foreach_batch_upsert_handles_restart(spark, tmp_path):
    """Re-running the same stream against an existing table must merge,
    not duplicate (idempotent reprocessing, reference quirk Q6 analogue)."""
    target = str(tmp_path / "agg_table2")
    for i in range(2):
        agg = tumbling_counts(stream_events(spark, SF001))
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _eid: managed_table.write_or_merge(
                    df.sparkSession, df, target, ["window_start"]
                )
            )
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / f"ckpt{i}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        if i == 0:
            first = managed_table.read(spark, target).count()
    assert managed_table.read(spark, target).count() == first


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState carries per-key state across micro-batches
    (forced via maxFilesPerTrigger=1 over two files)."""
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table
    from aws_callcenter_delta_lakehouse_spark.streaming.stateful import (
        running_totals,
    )

    events = load_table(spark, SF001, "events").select("user_id", "value")
    half1, half2 = events.randomSplit([0.5, 0.5], seed=7)
    src = str(tmp_path / "src")
    half1.coalesce(1).write.parquet(src)
    half2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("running_t")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # last emitted row per user == the full batch aggregate
    import pyspark.sql.functions as F
    got = (
        spark.table("running_t")
        .groupBy("user_id")
        .agg(
            F.max("running_events").alias("n"),
            F.max("running_value").alias("v"),
        )
    )
    want = events.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("v")
    )
    diff = got.join(want, "user_id").filter(got["n"] != want["n"])
    assert diff.count() == 0
    vdiff = got.join(want, "user_id").filter(F.abs(got["v"] - want["v"]) > 1e-6)
    assert vdiff.count() == 0


def test_user_peaks_requires_protobuf_gate(spark):
    """transformWithStateInPandas needs google.protobuf; the registry
    must gate the query on that import so a vanilla driver session never
    crashes. When protobuf IS available the query must match its
    batch-aggregate oracle (covered by the oracle suite then)."""
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY

    try:
        import google.protobuf  # noqa: F401

        has_pb = True
    except ImportError:
        has_pb = False
    assert ("streaming_user_peaks" in REGISTRY) == has_pb


def test_available_now_trigger_drains_to_batch_equivalence(spark):
    """Trigger.AvailableNow (the production drain-then-stop trigger)
    must process everything and stop on its own, matching the batch
    aggregate — unlike processAllAvailable it needs no explicit stop."""
    from pyspark.sql import functions as F

    from aws_callcenter_delta_lakehouse_spark.catalog import load_table
    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        stream_events,
        tumbling_counts,
    )
    from tests.conftest import SF001

    agg = tumbling_counts(stream_events(spark, SF001))
    q = (
        agg.writeStream.format("memory")
        .queryName("avail_now_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: r.n_events
        for r in spark.table("avail_now_sink").collect()
    }
    ev = load_table(spark, SF001, "events")
    want = {
        r.ws: r.n
        for r in ev.groupBy(
            F.window("ts", "6 hours").start.alias("ws")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_incremental_gold_across_micro_batches(spark, tmp_path):
    """Two real micro-batches (files arriving while the query runs):
    the incrementally-maintained aggregate must equal a batch recompute
    over everything ingested, and a replayed epoch must be a no-op."""
    import shutil

    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        foreach_batch_incremental_gold,
    )
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt

    src = tmp_path / "src"
    src.mkdir()
    agg_path = str(tmp_path / "gold")
    a = spark.createDataFrame(
        [("click", 10), ("view", 5), ("click", 1)], "event_type string, v long"
    )
    b = spark.createDataFrame(
        [("click", 2), ("buy", 7)], "event_type string, v long"
    )
    stream = (
        spark.readStream.schema("event_type string, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = foreach_batch_incremental_gold(
        stream, agg_path, keys=("event_type",), sum_col="v",
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        a.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "a"))
        for f in (tmp_path / "a").glob("*.parquet"):
            shutil.copy(f, src / "a.parquet")
        q.processAllAvailable()
        b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b"))
        for f in (tmp_path / "b").glob("*.parquet"):
            shutil.copy(f, src / "b.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.event_type, r.n_rows, r.sum_value)
        for r in mt.read(spark, agg_path).collect()
    }
    assert got == {("click", 3, 13), ("view", 1, 5), ("buy", 1, 7)}


def test_merge_upsert_sink_latest_wins_and_replay_skip(spark, tmp_path):
    """Streaming MERGE sink: intra-batch duplicates collapse latest-wins,
    cross-batch updates overwrite, and a restart (which replays nothing
    new) leaves the table and its epoch txn untouched."""
    import shutil

    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        foreach_batch_merge_upsert,
    )

    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    a = spark.createDataFrame(
        [(1, "a1", 10), (2, "b1", 20), (1, "a2", 30)],  # key 1 twice: seq 30 wins
        "id long, v string, seq long",
    )
    b = spark.createDataFrame(
        [(2, "b2", 40), (3, "c1", 50)], "id long, v string, seq long"
    )

    def _feed(df, name):
        tmp = tmp_path / ("stage_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            shutil.copy(f, src / (name + ".parquet"))

    def _start():
        stream = (
            spark.readStream.schema("id long, v string, seq long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        return foreach_batch_merge_upsert(
            stream, path, keys=("id",), checkpoint=ckpt,
            dedupe_order_col="seq",
        )

    q = _start()
    try:
        _feed(a, "a")
        q.processAllAvailable()
        _feed(b, "b")
        q.processAllAvailable()
    finally:
        q.stop()

    def _snap():
        return {tuple(r) for r in mt.read(spark, path).collect()}

    want = {(1, "a2", 30), (2, "b2", 40), (3, "c1", 50)}
    assert _snap() == want
    epoch = mt.table_txn(path)["last_epoch"]

    # restart with the same checkpoint: no new data, no re-merge
    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _snap() == want
    assert mt.table_txn(path)["last_epoch"] == epoch


def test_scd2_sink_versions_and_replay_skip(spark, tmp_path):
    """Streaming SCD2 sink: batch 1 seeds history, batch 2 closes the
    changed key's row and opens a new one, passes unchanged keys
    through, seeds new keys — and a restart replaying nothing leaves
    history and the epoch txn untouched."""
    import datetime as dt
    import shutil

    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        foreach_batch_scd2,
    )

    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")
    a = spark.createDataFrame(
        [(1, "A", "2024-01-01", 1), (2, "B", "2024-01-01", 1)],
        "id long, seg string, d string, seq long",
    )
    b = spark.createDataFrame(
        [
            (1, "A1", "2024-02-01", 1),  # superseded intra-batch by seq 2
            (1, "A2", "2024-02-01", 2),
            (2, "B", "2024-02-01", 1),   # unchanged: no new version
            (3, "C", "2024-02-01", 1),   # new key
        ],
        "id long, seg string, d string, seq long",
    )

    def _feed(df, name):
        tmp = tmp_path / ("stage_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            shutil.copy(f, src / (name + ".parquet"))

    def _start():
        stream = (
            spark.readStream.schema("id long, seg string, d string, seq long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        return foreach_batch_scd2(
            stream, path, keys=("id",), checkpoint=ckpt,
            batch_date_col="d", dedupe_order_col="seq",
        )

    q = _start()
    try:
        _feed(a, "a")
        q.processAllAvailable()
        _feed(b, "b")
        q.processAllAvailable()
    finally:
        q.stop()

    def _snap():
        return {
            (r.id, r.seg, str(r.effective_from), str(r.effective_to), r.is_current)
            for r in mt.read(spark, path).collect()
        }

    want = {
        (1, "A", "2024-01-01", "2024-02-01", False),
        (1, "A2", "2024-02-01", "9999-12-31", True),
        (2, "B", "2024-01-01", "9999-12-31", True),
        (3, "C", "2024-02-01", "9999-12-31", True),
    }
    assert _snap() == want
    epoch = mt.table_txn(path)["last_epoch"]

    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _snap() == want
    assert mt.table_txn(path)["last_epoch"] == epoch


def test_progress_listener_captures_batch_metrics(spark, tmp_path):
    """The ProgressCapture listener sees every micro-batch: input-row
    counts sum to the rows fed, the stateful window aggregate reports
    state rows, and the captured log is queryable as a DataFrame."""
    import shutil
    import time

    from aws_callcenter_delta_lakehouse_spark.streaming.observe import (
        capture_progress,
    )

    src = tmp_path / "src"
    src.mkdir()
    a = spark.createDataFrame(
        [("2024-01-01 00:10:00", 1.0), ("2024-01-01 05:00:00", 2.0)],
        "ts_s string, value double",
    )
    b = spark.createDataFrame(
        [("2024-01-01 07:00:00", 4.0)], "ts_s string, value double"
    )

    def _feed(df, name):
        tmp = tmp_path / ("stage_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            shutil.copy(f, src / (name + ".parquet"))

    cap = capture_progress(spark)
    try:
        stream = (
            spark.readStream.schema("ts_s string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        agg = (
            stream.withColumn("ts", F.to_timestamp("ts_s"))
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "6 hours"))
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("obs_sink")
            .outputMode("complete")
            .start()
        )
        try:
            _feed(a, "a")
            q.processAllAvailable()
            _feed(b, "b")
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events are delivered asynchronously
        for _ in range(50):
            if sum(e["num_input_rows"] for e in cap.events) >= 3:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(cap)

    log = cap.to_df(spark)
    got = log.agg(
        F.sum("num_input_rows").alias("rows"),
        F.max("state_rows_total").alias("state_rows"),
        F.count("*").alias("batches"),
    ).first()
    assert got.rows == 3
    assert got.state_rows >= 2  # two 6h windows held in state
    assert got.batches >= 2


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_lsh_index_sink_probe_and_replay(spark, tmp_path):
    """The streaming LSH-index sink: two document micro-batches build
    the persistent band-bucket + shingle tables; a later probe shard
    finds its near-duplicate in BATCH-1 history through the stored
    index (no corpus re-signature), and a restart replaying nothing
    leaves both tables' epochs untouched."""
    import shutil

    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        minhash_lsh_probe_pairs,
    )
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        foreach_batch_lsh_index,
    )

    src = tmp_path / "src"
    src.mkdir()
    idx = str(tmp_path / "lsh")
    ckpt = str(tmp_path / "ckpt")
    sent = "the quick brown fox jumps over the lazy dog near the old river bank"
    other = "completely different words about spark shuffles and parquet files here now"
    a = spark.createDataFrame([(1, sent), (2, other)], "doc_id long, text string")
    b = spark.createDataFrame(
        [(3, "unrelated third document text with many distinct tokens in it")],
        "doc_id long, text string",
    )

    def _feed(df, name):
        tmp = tmp_path / ("stage_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            shutil.copy(f, src / (name + ".parquet"))

    def _start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        return foreach_batch_lsh_index(stream, idx, checkpoint=ckpt)

    before_rdds = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    q = _start()
    try:
        _feed(a, "a")
        q.processAllAvailable()
        _feed(b, "b")
        q.processAllAvailable()
    finally:
        q.stop()
    # the per-batch shingle materialization must RELEASE its blocks
    # (round 13: localCheckpoint leaked one RDD per epoch for the
    # stream's lifetime — persist/unpersist is scoped to the batch)
    leaked = (
        set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        - before_rdds
    )
    assert not leaked, f"micro-batch left persistent RDDs behind: {leaked}"

    # probe a near-dup of doc 1 (one word changed) against the index
    probe = spark.createDataFrame(
        [(99, sent.replace("lazy", "sleepy"))], "doc_id long, text string"
    )
    pairs = minhash_lsh_probe_pairs(
        mt.read(spark, idx + "_buckets"),
        mt.read(spark, idx + "_shingles"),
        probe,
        "doc_id",
        "text",
        threshold=0.5,
    ).collect()
    assert {(r.d1, r.d2) for r in pairs} == {(1, 99)}

    e_b = mt.table_txn(idx + "_buckets")["last_epoch"]
    e_s = mt.table_txn(idx + "_shingles")["last_epoch"]
    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert mt.table_txn(idx + "_buckets")["last_epoch"] == e_b
    assert mt.table_txn(idx + "_shingles")["last_epoch"] == e_s


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_lsh_index_sink_catalog_mode_atomic_and_replays(
    spark, tmp_path, monkeypatch
):
    """Catalog-mode LSH index sink: both index tables publish in one
    pointer flip. A crash BEFORE the flip during batch 2 leaves the
    catalog serving batch-1-only state on BOTH tables (never one
    ahead); the restarted query replays the epoch exactly once and the
    final index finds a cross-batch near-duplicate."""
    import os as _os
    import shutil

    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        minhash_lsh_probe_pairs,
    )
    from aws_callcenter_delta_lakehouse_spark.sources import txn_catalog as tc
    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        foreach_batch_lsh_index,
    )

    src = tmp_path / "src"
    src.mkdir()
    idx = str(tmp_path / "lsh")
    cat = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    sent = "the quick brown fox jumps over the lazy dog near the old river bank"
    a = spark.createDataFrame([(1, sent)], "doc_id long, text string")
    b = spark.createDataFrame(
        [(2, sent.replace("lazy", "sleepy"))], "doc_id long, text string"
    )

    def _feed(df, name):
        tmp = tmp_path / ("stage_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            shutil.copy(f, src / (name + ".parquet"))

    def _start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        return foreach_batch_lsh_index(
            stream, idx, checkpoint=ckpt, catalog_dir=cat
        )

    q = _start()
    try:
        _feed(a, "a")
        q.processAllAvailable()
    finally:
        q.stop()
    assert tc.catalog_txn(cat)["last_epoch"] == 0

    # crash at the CATALOG COMMIT POINT — the put-if-absent versioned
    # manifest (r6: the _latest pointer is a read cache behind it)
    from aws_callcenter_delta_lakehouse_spark.sources import fs as table_fs

    real_excl = table_fs.LocalTableFS.write_exclusive

    def boom(self, p, data):
        if str(p).startswith(cat):
            raise RuntimeError("injected crash")
        return real_excl(self, p, data)  # pragma: no cover - guard

    monkeypatch.setattr(table_fs.LocalTableFS, "write_exclusive", boom)
    q = _start()
    try:
        _feed(b, "b")
        q.processAllAvailable()
    except Exception:
        pass  # query died on the injected crash
    finally:
        q.stop()
    monkeypatch.setattr(table_fs.LocalTableFS, "write_exclusive", real_excl)

    # catalog still at epoch 0: BOTH tables consistent at batch-1 state
    assert tc.catalog_txn(cat)["last_epoch"] == 0
    snap = tc.snapshot(cat)
    assert tc.read_table(spark, cat, "buckets", snap).filter(
        "doc_id = 2"
    ).count() == 0
    assert tc.read_table(spark, cat, "shingles", snap).filter(
        "doc_id = 2"
    ).count() == 0

    # restart: the epoch replays exactly once
    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert tc.catalog_txn(cat)["last_epoch"] == 1
    # both batches' docs are in the replayed index
    for tbl in ("buckets", "shingles"):
        ids = {
            r.doc_id
            for r in tc.read_table(spark, cat, tbl)
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert ids == {1, 2}, tbl
    # a probe near-duplicating the REPLAYED doc (one word changed from
    # doc 2) finds it through the catalog-published index
    pairs = minhash_lsh_probe_pairs(
        tc.read_table(spark, cat, "buckets"),
        tc.read_table(spark, cat, "shingles"),
        spark.createDataFrame(
            [(99, sent.replace("lazy", "sleepy").replace("river", "creek"))],
            "doc_id long, text string",
        ),
        "doc_id",
        "text",
        threshold=0.5,
    ).collect()
    assert (2, 99) in {(r.d1, r.d2) for r in pairs}


def test_apply_changes_sink_cdc_and_replay_noop(spark, tmp_path):
    """Streaming CDC sink: batch 1 bootstraps the table from inserts,
    batch 2 applies an update + a delete, a restart replays nothing,
    and even FORCING a re-apply of batch 2's rows is a row-level no-op
    (the per-row _apply_seq watermark, independent of the epoch guard).
    """
    import shutil

    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.streaming.streams import (
        foreach_batch_apply_changes,
    )

    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string, _change_type string, seq long"
    a = spark.createDataFrame(
        [(1, "a1", "insert", 10), (2, "b1", "insert", 10)], schema
    )
    b = spark.createDataFrame(
        [(1, "a2", "update_postimage", 20), (2, None, "delete", 20),
         (3, "c1", "insert", 20)],
        schema,
    )

    def _feed(df, name):
        tmp = tmp_path / ("stage_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            shutil.copy(f, src / (name + ".parquet"))

    def _start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        return foreach_batch_apply_changes(
            stream, path, keys=("id",), sequence_col="seq", checkpoint=ckpt
        )

    q = _start()
    try:
        _feed(a, "a")
        q.processAllAvailable()
        _feed(b, "b")
        q.processAllAvailable()
    finally:
        q.stop()

    def _snap():
        return {
            (r["id"], r["v"]) for r in mt.read(spark, path).collect()
        }

    want = {(1, "a2"), (3, "c1")}
    assert _snap() == want
    epoch = mt.table_txn(path)["last_epoch"]

    # restart: nothing new -> untouched
    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _snap() == want and mt.table_txn(path)["last_epoch"] == epoch

    # bypass the epoch guard entirely: re-applying batch b's changes
    # directly is still a no-op thanks to the per-row watermark
    mt.apply_changes(spark, path, b, keys=["id"], sequence_col="seq")
    assert _snap() == want
