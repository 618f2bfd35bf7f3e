"""Streaming operators over event streams.

The reference handles late data in batch via Delta MERGE
(``/root/reference/README.md:105-108``) — no streaming exists there.
This module provides the Structured Streaming analogue (SURVEY.md §7.2
M5): watermarked tumbling/sliding/session windows, in-stream dedup, and
a foreachBatch MERGE sink that reuses the managed-table upsert so late
micro-batches re-merge exactly like the reference's reprocessed files.

Scale notes: windowed aggregations shuffle on (key, window) with
partial aggregation map-side; watermarks bound state. The file source
here is the test harness — swap for Kafka in production; every operator
is source-agnostic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import round_portable


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema pinned from the
    catalog's schema memo; ``ts`` normalized by the same function
    catalog.load_table uses)."""
    from ..catalog import normalize_events_ts, table_schema

    schema = table_schema(spark, sf_dir, "events")
    # the file source wants a directory: stream the sf_dir, glob-filtered
    # to the events table file
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(spark, stream)


def tumbling_counts(
    stream: DataFrame,
    window_size: str = "6 hours",
    watermark: str = "1 day",
    keys: Sequence[str] = (),
) -> DataFrame:
    """Watermarked tumbling-window count/sum aggregate."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size), *keys)
        .agg(
            F.count("*").alias("n_events"),
            round_portable(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    stream: DataFrame,
    window_size: str = "12 hours",
    slide: str = "6 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding-window event counts (each event lands in size/slide windows)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size, slide))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def session_counts(
    stream: DataFrame,
    gap: str = "1 hour",
    watermark: str = "1 day",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Session-window aggregation (dynamic, gap-closed windows) — the
    streaming twin of operators.sessionize."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), *keys)
        .agg(F.count("*").alias("n_events"), F.min("event_id").alias("first_event_id"))
        .select(
            *keys,
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "first_event_id",
        )
    )


def dedup_stream(
    stream: DataFrame, keys: Sequence[str], watermark: str = "1 day"
) -> DataFrame:
    """Stateful streaming dedup: first occurrence wins, state bounded by
    the watermark (dropDuplicatesWithinWatermark)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame to completion against a memory sink
    and return the materialized batch result (deterministic for file
    sources: processAllAvailable drains everything).

    Shuffle partitions are right-sized for the duration of the run: the
    state-store partition count is fixed at query start, and a vanilla
    session's 200 partitions means 200-task stateful stages for test-
    scale data. Restored afterwards."""
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(key, old)
    return spark.table(name)


class _ExactlyOnce:
    """The exactly-once contract of every ``foreachBatch`` sink here —
    Delta's ``txnAppId``/``txnVersion``: the highest applied epoch is
    recorded under ``_KEY`` in a ``txn`` dict that the sink's apply step
    commits ATOMICALLY with its data. A crash at ANY point leaves either
    (old data, old epoch) — the replayed micro-batch re-applies onto the
    pre-image — or (new data, new epoch) — the replay is skipped; a
    batch is never applied twice (fault injection:
    ``tests/test_crash_consistency.py``).

    ``recorded()`` reads the txn dict the sink's epoch lives in (its
    table's ``managed_table.table_txn`` or ``txn_catalog.catalog_txn``);
    ``apply(batch_df, txn)`` commits ``txn`` with the batch's data.
    Calling the instance runs one micro-batch and returns True iff it
    applied; :meth:`start` runs it as the stream's query."""

    _KEY = "last_epoch"

    def __init__(self, recorded, apply) -> None:
        self._recorded, self._apply = recorded, apply

    @classmethod
    def landed(cls, recorded: dict, txn: dict) -> bool:
        """The replay rule: ``txn``'s epoch is at or below the recorded one."""
        return txn[cls._KEY] <= int(recorded.get(cls._KEY, -1))

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> bool:
        txn = {self._KEY: int(epoch_id)}
        if self.landed(self._recorded(), txn):
            return False  # replayed batch: already applied
        self._apply(batch_df, txn)
        return True

    def start(self, stream: DataFrame, checkpoint: str) -> "object":
        return (
            stream.writeStream.foreachBatch(self)
            .option("checkpointLocation", checkpoint)
            .start()
        )


def stream_static_enrich(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-static join + windowless aggregate: each micro-batch of
    events joins the static customer dimension (broadcast — stateless,
    the dim is re-resolved per micro-batch so slowly-changing dims pick
    up updates) and feeds a per-(segment, event_type) count.

    The canonical streaming-enrichment shape: join carries NO state
    (unlike stream-stream), so the only stateful operator is the final
    aggregate."""
    from ..catalog import load_table

    ev = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    return (
        ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            round_portable(F.sum("value"), 2).alias("sum_value"),
        )
    )


def stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    window_seconds: int = 3600,
    watermark: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each purchase joined to the
    same user's view events in the preceding ``window_seconds``. Both
    sides are watermarked so Spark can bound the join state buffer —
    the canonical attribution-join shape. File-source drain makes the
    result equal to the batch interval join (the oracle).

    ``how="left_outer"`` adds unconverted purchases (no view in the
    window) as null-extended rows; ``how="full_outer"`` additionally
    emits never-attributed views once THEIR state closes (a view can
    match purchases up to window_seconds after it, so its null row
    emits only when the watermark passes v_ts + window_seconds).
    Outer results are emitted only once
    the watermark passes the row's event time — state for a purchase
    can be closed only when no matching view can still arrive — so a
    drained file stream equals the batch LEFT JOIN only for purchases
    older than ``max(event time) - watermark delay``; callers wanting
    full drain-equality on a finite source use a zero watermark delay."""
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (F.col("v_ts") <= F.col("p_ts")),
        how=how,
    ).select(
        "purchase_id",
        "view_id",
        # full-outer emits view-only rows where p_user is null
        F.coalesce("p_user", "v_user").alias("user_id"),
    )


def windowed_rollup(
    stream: DataFrame,
    small: str = "6 hours",
    large: str = "1 day",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Chained time-window aggregation (Spark 3.5+ multiple-stateful-
    operator support): a fine-grained tumbling aggregate re-aggregated
    into coarser windows INSIDE the same streaming query — the streaming
    twin of a rollup materialized view (pre-aggregate at 6h, serve at
    1d), without a second query or an intermediate topic.

    Requires append mode: each stateful operator emits a window only
    once its end passes the watermark, so the coarse aggregate sees
    finalized fine windows. Consequence for consumers: coarse windows
    whose end exceeds the final watermark are never emitted (they are
    not yet final) — the oracle excludes them explicitly."""
    fine = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", small))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    return (
        fine.groupBy(F.window(F.col("window"), large))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count("*").alias("n_subwindows"),
            round_portable(F.sum("sum_value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_subwindows",
            "n_events",
            "sum_value",
        )
    )


def foreach_batch_incremental_gold(
    stream: DataFrame,
    agg_path: str,
    keys: Sequence[str],
    sum_col: str,
    checkpoint: str,
) -> "object":
    """Streaming INCREMENTAL materialized-view sink: each micro-batch
    folds into the persisted Gold aggregate ``(keys..., n_rows,
    sum_value)`` as an insert-only change feed
    (``sources.incremental_mv.fold_change_deltas``, the fold the CDF
    sink :func:`foreach_batch_mv_from_cdf` runs) instead of re-merging a
    complete-mode aggregate — per batch the work is O(|batch|) + a join
    against the (group-sized) state table, so the maintained view never
    rescans history. Completes the lakehouse loop: stream -> managed
    table -> incrementally-maintained Gold.

    Exactly-once: a delta fold is NOT naturally idempotent (a replayed
    batch would double-count), so the applied epoch commits in the
    state table's own marker with the folded data (:class:`_ExactlyOnce`,
    fault-injection-tested in ``tests/test_crash_consistency.py``).
    Returns the query handle.
    """
    return _fold_sink(
        stream.withColumn("_change_type", F.lit("insert")),
        agg_path,
        keys,
        {"sum_value": ("sum", sum_col)},
        checkpoint,
        count_col="n_rows",
    )


def foreach_batch_merge_upsert(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint: str,
    dedupe_order_col: str | None = None,
) -> "object":
    """Streaming MERGE-upsert sink: every micro-batch UPSERTs into the
    managed table keyed on ``keys`` — the reference's late-data MERGE
    (01_silver_delta_upsert.py:99-112) as a continuously-running sink.
    Late or corrected records simply arrive in a later batch and
    overwrite their key's row.

    ``dedupe_order_col``: when a batch can carry multiple versions of
    one key, keep the row with the highest value of this column
    (latest-wins) — otherwise the merge enforces Delta's key-unique
    source contract and raises.

    Exactly-once: the applied epoch rides the same atomic
    stage-and-swap commit as the merged data (``merge_upsert(txn=)``),
    so a replayed micro-batch after a crash is skipped — never
    double-merged (same contract, and same fault-injection test shape,
    as ``foreach_batch_incremental_gold``)."""
    from pyspark.sql import Window

    from ..sources import managed_table as mt

    def _apply(batch_df: DataFrame, txn: dict) -> None:
        spark = batch_df.sparkSession
        src = batch_df
        if dedupe_order_col is not None:
            w = Window.partitionBy(*keys).orderBy(
                F.desc(dedupe_order_col)
            )
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        if mt.is_table(spark, path):
            mt.merge_upsert(spark, path, src, keys=keys, txn=txn)
        else:
            mt.commit_overwrite(src, path, keys=tuple(keys), txn=txn)

    return _ExactlyOnce(lambda: mt.table_txn(path), _apply).start(
        stream, checkpoint
    )


def foreach_batch_append(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str] = (),
) -> "object":
    """Streaming APPEND sink — the Delta
    ``writeStream.format("delta").outputMode("append")`` analogue over
    the blind-append commit: every micro-batch lands as fresh files in
    an otherwise hardlinked snapshot (``managed_table.append_rows`` —
    O(batch) write cost, never a table rewrite), which is THE
    continuous-ingest hot path at 100 TB.

    Exactly-once: the epoch rides the same atomic marker as the
    appended files (``append_rows(txn=)``), so a replayed micro-batch
    after a crash is skipped — never double-appended. The first batch
    bootstraps the table (``keys`` recorded in the marker). Works on
    ``appendOnly``-governed tables by construction — appends are
    exactly what the property licenses."""
    from ..sources import managed_table as mt

    def _apply(batch_df: DataFrame, txn: dict) -> None:
        spark = batch_df.sparkSession
        if mt.is_table(spark, path):
            mt.append_rows(spark, batch_df, path, txn=txn)
        else:
            mt.commit_overwrite(batch_df, path, keys=tuple(keys), txn=txn)

    return _ExactlyOnce(lambda: mt.table_txn(path), _apply).start(
        stream, checkpoint
    )


def foreach_batch_apply_changes(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    sequence_col: str,
    checkpoint: str,
) -> "object":
    """Streaming CDC sink — a continuously-fed
    ``APPLY CHANGES INTO``: every micro-batch is a change-feed chunk
    (``_change_type`` + ``sequence_col``) merged by
    ``managed_table.apply_changes``; the first chunk bootstraps the
    table.

    Exactly-once TWICE over: the applied epoch commits atomically with
    the data (replayed epochs skip wholesale), and even if the epoch
    guard were lost, the per-row ``_apply_seq`` watermark makes each
    individual change idempotent — a replayed or reordered chunk
    converges to the same table (tested crash shape: reapply the same
    batch, state unchanged)."""
    from ..sources import managed_table as mt

    def _apply(batch_df: DataFrame, txn: dict) -> None:
        mt.apply_changes(
            batch_df.sparkSession,
            path,
            batch_df,
            keys=keys,
            sequence_col=sequence_col,
            txn=txn,
        )

    return _ExactlyOnce(lambda: mt.table_txn(path), _apply).start(
        stream, checkpoint
    )


def foreach_batch_scd2(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint: str,
    batch_date_col: str,
    dedupe_order_col: str | None = None,
) -> "object":
    """Streaming SCD2 history sink: every micro-batch is applied as one
    slowly-changing-dimension type-2 update batch — changed keys close
    their current row (effective_to = batch date) and open a new
    current one, unchanged keys pass through untouched, new keys seed
    fresh history (operators/scd2.py semantics, continuously fed).
    The batch's effective date is ``max(batch_date_col)`` over the
    batch, so replays of the same data use the same date.

    ``dedupe_order_col``: collapse intra-batch duplicates of one key
    latest-wins before applying (SCD2 needs a key-unique batch).

    Exactly-once: the applied epoch rides the same atomic
    stage-and-swap commit as the refreshed history
    (``commit_overwrite(txn=)``), so a crash-replayed micro-batch is
    skipped — the same contract and fault-injection shape as
    ``foreach_batch_merge_upsert``. The date column is dropped from
    the SCD2 attributes (it would otherwise make every replayed row
    look "changed")."""
    from pyspark.sql import Window

    from ..operators.scd2 import scd2_apply, scd2_init
    from ..sources import managed_table as mt

    def _apply(batch_df: DataFrame, txn: dict) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return  # nothing to apply; replaying an empty batch is a no-op
        batch_date = batch_df.agg(
            F.max(F.to_date(batch_date_col))
        ).first()[0]
        src = batch_df
        if dedupe_order_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.desc(dedupe_order_col))
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        src = src.drop(batch_date_col)
        if dedupe_order_col is not None:
            src = src.drop(dedupe_order_col)
        if mt.is_table(spark, path):
            new_hist = scd2_apply(mt.read(spark, path), src, keys, batch_date)
        else:
            new_hist = scd2_init(src, batch_date)
        mt.commit_overwrite(new_hist, path, txn=txn)

    return _ExactlyOnce(lambda: mt.table_txn(path), _apply).start(
        stream, checkpoint
    )


def foreach_batch_lsh_index(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    catalog_dir: str | None = None,
) -> "object":
    """Continuously maintain the PERSISTENT MinHash-LSH dedup index
    from a document stream — the ingest side of
    ``minhash_lsh_probe_pairs``: each micro-batch shingles and
    signatures ONLY its own documents and merges (a) their band-bucket
    rows into ``<index_path>_buckets`` and (b) their distinct shingles
    into ``<index_path>_shingles``. Batch work is O(|batch| * bands);
    the already-indexed corpus is never re-read. A later arrival (or a
    live probe) dedups against the whole history via the stored index.

    Exactly-once across TWO tables, two modes:

    - default: each table records the applied epoch in its own atomic
      commit; a replayed batch re-applies only to tables still behind.
      Safe because the per-table merge is idempotent (same keys, same
      rows) — the crash window between the two commits HEALS on
      replay rather than double-applying, but a reader in that window
      can see one table ahead of the other.
    - ``catalog_dir`` set: both tables publish through ONE
      ``txn_catalog.commit_tables`` pointer flip with the epoch in the
      catalog txn — readers resolving through the catalog can never
      observe the index tables out of step, and replay-skip is a
      single catalog-level check."""
    from ..operators.dedup import lsh_band_buckets, minhash_signature, shingle
    from ..sources import managed_table as mt
    from ..sources import txn_catalog as tc

    buckets_path = index_path + "_buckets"
    shingles_path = index_path + "_shingles"

    def _apply(batch_df: DataFrame, txn: dict) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # persist (NOT localCheckpoint): the shingle frame is consumed
        # twice (signature chain + the shingle-table merge), but this
        # closure runs once PER MICRO-BATCH for the stream's lifetime —
        # localCheckpoint blocks are RDD persistence with no DataFrame
        # handle to release, so every epoch would pin another batch of
        # blocks in executor memory (the perf-trap-4 leak, continuous
        # edition). persist() gives the same single-evaluation and is
        # released in the finally.
        sh = shingle(batch_df, id_col, text_col, n, distinct=True).persist()
        try:
            sigs = minhash_signature(sh, id_col, num_hashes)
            buckets = lsh_band_buckets(
                sigs, id_col, bands, num_hashes // bands
            )
            if catalog_dir is not None:
                # merge into the (catalog-pinned) previous index, then
                # publish both refreshed snapshots in one pointer flip
                manifest = tc.read_manifest(catalog_dir)
                updates = {}
                for tbl, df, keys in (
                    ("buckets", buckets, (id_col, "band", "bucket")),
                    ("shingles", sh, (id_col, "sh")),
                ):
                    path = {
                        "buckets": buckets_path, "shingles": shingles_path
                    }[tbl]
                    if tbl in manifest:
                        old = tc.read_table(spark, catalog_dir, tbl)
                        # key-level upsert semantics, like the merge mode
                        df = old.unionByName(df).dropDuplicates(list(keys))
                    updates[tbl] = (df, path, keys)
                tc.commit_tables(updates, catalog_dir, txn=txn)
                return
            for path, df, keys in (
                (buckets_path, buckets, (id_col, "band", "bucket")),
                (shingles_path, sh, (id_col, "sh")),
            ):
                if _ExactlyOnce.landed(mt.table_txn(path), txn):
                    continue  # this table already has the replayed batch
                if mt.is_table(spark, path):
                    mt.merge_upsert(spark, path, df, keys=keys, txn=txn)
                else:
                    mt.commit_overwrite(df, path, keys=tuple(keys), txn=txn)
        finally:
            sh.unpersist()

    # default mode records no batch-level epoch: each table skips alone
    recorded = dict if catalog_dir is None else (
        lambda: tc.catalog_txn(catalog_dir)
    )
    return _ExactlyOnce(recorded, _apply).start(stream, checkpoint)


def apply_multi_table_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    catalog_dir: str,
    tables: dict,
) -> bool:
    """One micro-batch applied to SEVERAL tables with a single atomic
    visibility point — the cross-table exactly-once contract real Delta
    cannot make (no multi-table transactions): every derived snapshot
    commits per-table, then ONE catalog-pointer flip publishes them all
    with the epoch in the catalog txn.

    ``tables``: {name: (derive, path, keys)} where ``derive(batch_df,
    old_df_or_None) -> DataFrame`` produces the table's NEW full
    snapshot. ``old_df`` is read through the CATALOG PIN, never the
    table head — after a crash between the per-table commits and the
    pointer flip, the replayed epoch must re-derive from the
    pre-images (the advanced-but-unpublished heads are unreferenced
    history, swept by vacuum).

    Crash anywhere → the catalog serves ALL old tables (epoch not
    recorded → replay re-applies) or ALL new ones (epoch recorded →
    replay skips). A reader holding ``txn_catalog.snapshot()`` never
    observes table A new with table B old. Returns True iff applied
    (False = replayed epoch skipped)."""
    from ..sources import txn_catalog as tc

    def _apply(batch_df: DataFrame, txn: dict) -> None:
        spark = batch_df.sparkSession
        pinned = tc.snapshot(catalog_dir)
        updates = {}
        for name, (derive, path, keys) in tables.items():
            old = (
                tc.read_table(spark, catalog_dir, name, manifest=pinned)
                if name in pinned
                else None
            )
            updates[name] = (derive(batch_df, old), path, tuple(keys))
        tc.commit_tables(updates, catalog_dir, txn=txn)

    return _ExactlyOnce(lambda: tc.catalog_txn(catalog_dir), _apply)(
        batch_df, epoch_id
    )


def foreach_batch_mv_from_cdf(
    stream: DataFrame,
    mv_path: str,
    group_cols: Sequence[str],
    aggs: dict,
    checkpoint: str,
) -> "object":
    """Continuously-maintained aggregate MV from a CHANGE-FEED stream —
    the full lakehouse loop: DML on a CDF-enabled base table →
    ``table_changes_stream`` (the readChangeFeed analogue,
    ``sources/pydatasource.py``) → this sink folds each micro-batch's
    signed deltas into the MV (``incremental_mv.fold_change_deltas``,
    the same algebra the batch ``refresh_agg_mv`` uses). The MV is a
    PURE FUNCTION of the feed: it starts empty and needs no bootstrap
    when the stream begins at the initial-load version.

    Retractable aggregates only (sum/count): a streaming sink has no
    base table to re-scan for min/max's touched groups — declare those
    on the batch refresher instead.

    Exactly-once: a delta fold double-applies on replay, so the applied
    epoch commits ATOMICALLY with the MV snapshot (:class:`_ExactlyOnce`,
    the house sink contract). Per batch the work is O(|batch|) + one
    keyed merge against the group-cardinality MV — never a base scan.
    Returns the query handle."""
    from ..sources import incremental_mv as imv

    imv._validate(aggs)
    bad = {k for k, (kind, _) in aggs.items() if kind in imv._RECOMPUTE}
    if bad:
        raise ValueError(
            f"foreach_batch_mv_from_cdf: aggregates {sorted(bad)} are not "
            "retractable — a stream cannot re-scan the base for touched "
            "groups; maintain min/max with the batch refresh_agg_mv"
        )

    return _fold_sink(
        stream, mv_path, group_cols, aggs, checkpoint, imv._COUNT_COL
    )


def _fold_sink(
    stream: DataFrame,
    path: str,
    group_cols: Sequence[str],
    aggs: dict,
    checkpoint: str,
    count_col: str,
) -> "object":
    """The fold sink behind :func:`foreach_batch_mv_from_cdf` and
    :func:`foreach_batch_incremental_gold`: each micro-batch of change
    rows folds into the aggregate table at ``path``
    (``incremental_mv.fold_change_deltas``; the first fold starts from
    an empty view and creates the table's schema, later folds keep it)."""
    from ..sources import incremental_mv as imv
    from ..sources import managed_table as mt

    def _apply(batch_df: DataFrame, txn: dict) -> None:
        spark = batch_df.sparkSession
        exists = mt.is_table(spark, path)
        folded = imv.fold_change_deltas(
            mt.read(spark, path) if exists else None,
            batch_df,
            list(group_cols),
            aggs,
            count_col=count_col,
        )
        # no pre-materialization needed: the folded snapshot is written
        # to a STAGING dir while the source snapshot stays live, then
        # swapped in with the epoch in one rename
        mt.commit_overwrite(
            folded,
            path,
            keys=tuple(group_cols),
            max_history=0,
            txn=txn,
            schema_mode="enforce" if exists else "overwrite",
        )

    return _ExactlyOnce(lambda: mt.table_txn(path), _apply).start(
        stream, checkpoint
    )
