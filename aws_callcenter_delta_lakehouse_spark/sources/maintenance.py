"""Table maintenance: compaction + vacuum.

The reference lists "compaction and retention (VACUUM) policies" as its
future work (``/root/reference/README.md:186``); Delta Lake spells these
OPTIMIZE and VACUUM. The managed-table equivalents:

- ``compact``: rewrite the table into size-targeted files (small-file
  compaction). MERGE emulation rewrites whole tables so fragmentation is
  bounded, but the exception sink is append-only and accretes one file
  set per run — exactly the small-file problem Delta's OPTIMIZE targets.
- ``vacuum``: drop leftover staging/backup dirs from interrupted swaps
  (the emulation's analogue of unreferenced-parquet GC).

Both preserve partition layout. At scale, compaction would be driven
per-partition with predicates; the API accepts a partition filter for
that reason.
"""

from __future__ import annotations

import contextlib
import os
import uuid as _uuid

from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import managed_table
from .fs import get_fs as _fs

TARGET_FILE_BYTES = 128 * 1024 * 1024


# engine sidecar directories whose parquet is NOT table data: deletion
# vectors, change-data-feed records, and the exported external-reader
# log's hardlinked history files (_delta_history can dwarf live data on
# a versioned-export table — counting it made compact() compute n_out
# from inflated bytes and silently no-op, review r12)
_NON_DATA_DIRS = frozenset(
    {
        managed_table._DV_DIR,
        managed_table._CDF_DIR,
        managed_table._DELTA_LOG_DIR,
        managed_table._DELTA_HISTORY_DIR,
    }
)


def table_file_stats(path: str) -> dict[str, int]:
    files = [
        f
        for f in _fs().glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if _fs().isfile(f) and _NON_DATA_DIRS.isdisjoint(f.split(os.sep))
    ]
    total = sum(_fs().getsize(f) for f in files)
    return {"n_files": len(files), "total_bytes": total}


def materialize_deletes(
    spark: SparkSession, path: str, target_file_bytes: int = TARGET_FILE_BYTES
) -> dict:
    """Delta ``REORG TABLE t APPLY (PURGE)`` analogue: physically
    rewrite a table that carries a deletion vector
    (``delete_where(deletion_vectors=True)``) so the soft-deleted rows
    leave the data files for real and reads drop the anti-join tax.
    No-op on tables without a DV. The rewrite is the standard
    size-targeted compaction (DV-aware read → fresh files → metadata-
    preserving marker, which by construction does not carry the ``dv``
    flag), so it is crash-atomic and keeps version/txn/constraints.
    Note: like Delta's PURGE, the pre-image (with the deleted rows
    still in its files) remains until VACUUM retires it."""
    marker = managed_table._read_marker(path)
    if not marker.get("dv"):
        return {"materialized": False}
    out = compact(
        spark,
        path,
        tuple(marker.get("partition_by", ())),
        target_file_bytes,
    )
    return {
        "materialized": True,
        "dv_rows_removed": int(marker["dv"].get("n_rows", 0)),
        **out,
    }


def _carry_cdf(src_dir: str, staging: str) -> None:
    """Hardlink a snapshot's ``_change_data`` sidecar into a
    data-preserving rewrite's staging dir: compaction keeps the
    version, so it must keep the version's change record too."""
    src = os.path.join(src_dir, managed_table._CDF_DIR)
    if not _fs().isdir(src):
        return
    dst = os.path.join(staging, managed_table._CDF_DIR)
    _fs().makedirs(dst, exist_ok=True)
    for fn in _fs().listdir(src):
        if fn.endswith(".tmp"):
            continue
        _fs().link_or_copy(os.path.join(src, fn), os.path.join(dst, fn))


def _scrub_cdf(spark: SparkSession, snap: str, match) -> int:
    """Erase rows matching ``match`` from one snapshot's change-data
    sidecar (GDPR: a purged row must not survive as a CDC pre/post
    image). In-place staging dance on the sidecar dir only; returns
    rows removed. Sidecars record logical column names, so the purge
    condition applies directly; ``_change_type`` never collides with
    data columns."""
    cdf = os.path.join(snap, managed_table._CDF_DIR)
    files = managed_table._sidecar_files(snap, managed_table._CDF_DIR)
    if not files:
        return 0
    df = spark.read.parquet(*files)
    n = df.filter(match).count()
    if n == 0:
        return 0
    staging = f"{cdf}__purge"
    if _fs().isdir(staging):  # pragma: no cover - leftover from crash
        _fs().rmtree(staging)
    # coalesce(1): an all-scrubbed sidecar must still write one
    # schema-bearing (possibly empty) part file — a bare _SUCCESS dir
    # would make every later table_changes read of this version throw
    df.filter(~match).coalesce(1).write.mode("overwrite").parquet(staging)
    backup = f"{cdf}__purge_old"
    _fs().rename_dir(cdf, backup)
    _fs().rename_dir(staging, cdf)
    _fs().rmtree(backup)
    return int(n)


def _refresh_external_exports(
    spark: SparkSession, path: str, shed_root: bool = False
) -> None:
    """After a compaction changed data files, external-reader artifacts
    must not outlive the files they name (review r12). Partition-scoped
    swaps leave the table ROOT untouched, so an exported ``_delta_log``
    / ``_delta_history`` / symlink manifest still references retired
    files — ``shed_root=True`` deletes them (the manifest's documented
    contract is fail-loud-on-stale; deleting beats naming dead files).
    Whole-table swaps shed them by construction (staging never carries
    them). Tables with ``delta.logExport.auto`` then re-export — the
    caller runs this INSIDE the compaction lock window, so the
    no-torn-export rule (round 10) holds."""
    mt_ = managed_table
    if shed_root:
        for d in (
            mt_._DELTA_LOG_DIR,
            mt_._DELTA_HISTORY_DIR,
            "_symlink_format_manifest",
        ):
            full = os.path.join(path, d)
            if _fs().isdir(full):
                _fs().rmtree(full)
    marker = mt_._read_marker(path)
    if mt_._prop_on(marker.get("properties"), mt_._LOG_EXPORT_PROP):
        try:
            export_delta_log(spark, path, versioned=True)
        except mt_.ProtocolError:  # pragma: no cover - reader features
            pass


def _require_no_dv(path: str, op: str) -> None:
    """File-carrying maintenance ops (partition-scoped compact,
    binpack) hardlink existing data files into the next snapshot while
    ``_write_marker_like`` never carries the ``dv`` flag — on a
    deletion-vector table that would resurrect the soft-deleted rows.
    Delta's OPTIMIZE handles DVs natively per file; the emulation keeps
    the invariant simpler: materialize first."""
    if managed_table._read_marker(path).get("dv"):
        raise ValueError(
            f"{op}: {path} carries a deletion vector; run "
            "maintenance.materialize_deletes first (Delta: REORG TABLE "
            "... APPLY (PURGE)) — carrying files while dropping the DV "
            "marker would resurrect soft-deleted rows"
        )


@contextlib.contextmanager
def _compaction_swap_guard(path: str, base_version: int, staging: str | None):
    """Serialize a data-preserving rewrite's swap against the commit
    protocol (round 10): take the table's COMMIT LOCK and re-check that
    no commit landed since the compaction was staged — the staged files
    reproduce THAT version's logical content only, so swapping them
    over a newer version would silently destroy the intervening commit
    (the OPTIMIZE-vs-append lost-update). On conflict the compaction
    output is discarded and :class:`ConcurrentWriteError` raised
    (maintenance is deferrable, data is not; the auto-compact/optimize
    hooks catch it and let the next commit's probe re-trigger). No
    version CLAIM is taken: compaction keeps the version, and the lock
    alone excludes the version-bumping writers, which all publish under
    the same lock."""
    with managed_table._commit_lock(path):
        live = managed_table.table_version(path)
        if live != base_version:
            if staging and _fs().isdir(staging):
                _fs().rmtree(staging)
            err = managed_table.ConcurrentWriteError(
                f"{path}: version advanced {base_version} -> {live} while "
                "a compaction was staging — its output reproduces the old "
                "version's content only; compaction discarded, re-run"
            )
            err.base_version = base_version
            raise err
        yield


def compact(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...] = (),
    target_file_bytes: int = TARGET_FILE_BYTES,
    where: str | None = None,
) -> dict[str, int]:
    """Rewrite ``path`` into ~target-sized files (Delta OPTIMIZE
    analogue).

    ``where`` restricts the rewrite to the *partition directories* whose
    partition-column values match the predicate (Delta's
    ``OPTIMIZE ... WHERE``): only those directories are rewritten
    in-place; every other partition's files are left untouched, so no
    row is ever dropped. ``where`` therefore requires ``partition_by``
    and must reference partition columns only. Without ``where`` the
    whole table is rewritten via the same stage-and-swap as MERGE.
    """
    # COMPACTION NEVER UN-PARTITIONS (same rule merge_upsert got in r8):
    # an empty partition_by falls back to the marker's layout — passing
    # the default used to silently flatten a Hive-partitioned table
    # (review r12). Changing layout is commit_overwrite's job.
    partition_by = tuple(partition_by) or tuple(
        managed_table._read_marker(path).get("partition_by", ()) or ()
    )
    if where:
        return _compact_partitions(spark, path, partition_by, target_file_bytes, where)

    df = managed_table._read_logical(spark, path)  # keep __row_id through the rewrite
    live_marker = managed_table._read_marker(path)
    managed_table._check_writer(live_marker, path)
    base_version = int(live_marker.get("version", 0))
    stats = table_file_stats(path)
    n_out = max(1, stats["total_bytes"] // target_file_bytes)
    compacted = df.coalesce(int(n_out))

    staging = f"{path}__compact_staging_{_uuid.uuid4().hex[:8]}"
    writer = compacted.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    # carry skipping-manifest sidecars (every data file is new after a
    # full rewrite, so the post-swap refresh amounts to a rebuild — but
    # the table keeps its indexed-columns declaration instead of
    # silently dropping the index)
    for sidecar in ("_stats_manifest.json", "_bloom_manifest.json"):
        src = os.path.join(path, sidecar)
        if _fs().exists(src):
            _fs().copy(src, os.path.join(staging, sidecar))
    _carry_cdf(path, staging)
    # carry ALL table metadata forward (version/txn/constraints/PK):
    # compaction preserves data, so it must preserve the logical table
    # too — a bare marker here would reset the exactly-once sinks'
    # last_epoch and drop CHECK constraints
    managed_table._write_marker_like(
        staging, live_marker, partition_by,
        # a partitioned rewrite of a 0-row table emits no files at all:
        # record the logical schema so the swap can't strand the table
        # unreadable (round-13 soak find, binpack sibling)
        schema_json_fallback=df.schema.json(),
    )

    with _compaction_swap_guard(path, base_version, staging):
        backup = f"{path}__compact_old_{_uuid.uuid4().hex[:8]}"
        _fs().rename_dir(path, backup)
        _fs().rename_dir(staging, path)
        _fs().rmtree(backup)
        # the swap shed any exported _delta_log (staging never carries
        # it): re-export inside the lock on auto-export tables
        _refresh_external_exports(spark, path)
    if not partition_by:  # manifests index flat tables only
        _refresh_skipping_indexes(spark, path)
    return {"before": stats, "after": table_file_stats(path)}


def _hive_partition_dirs(
    path: str, partition_by: tuple[str, ...]
) -> dict[str, str]:
    """Map Spark-rendered partition key ('/'-joined cast-to-string
    values, the same rendering ``concat_ws`` gives at plan time) ->
    on-disk partition directory, by WALKING the Hive layout and
    unescaping each ``col=value`` dir name (Spark escapes ``:``, ``%``
    etc. with %XX in paths — ``urllib.parse.unquote`` is the exact
    inverse). Listing cost is partition-count metadata, the same
    listing Delta's OPTIMIZE planner does. NULL partition values
    (``__HIVE_DEFAULT_PARTITION__``) don't key-match and are skipped —
    same (pre-existing) limit as the concat_ws key itself."""
    from urllib.parse import unquote

    levels: list[tuple[str, list[str]]] = [(path, [])]
    for col in partition_by:
        prefix = f"{col}="
        nxt = []
        for d, vals in levels:
            for name in _fs().listdir(d):
                sub = os.path.join(d, name)
                if name.startswith(prefix) and _fs().isdir(sub):
                    nxt.append((sub, vals + [unquote(name[len(prefix):])]))
        levels = nxt
    return {"/".join(vals): d for d, vals in levels}


def optimize_zorder_partitions(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    where: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    bits: int = 16,
) -> dict[str, int]:
    """Delta ``OPTIMIZE ... WHERE ... ZORDER BY (cols)``: re-cluster
    ONLY the partition directories the predicate selects, leaving every
    other partition's files untouched on disk. Same partition walk and
    per-directory atomic swap as ``compact(where=)``; within the one
    rewrite job the selected rows are range-partitioned on
    (partition key, Morton code) and sorted, so each rewritten
    partition's files carry tight per-file min/max on every clustered
    column. At 100 TB this is the incremental-maintenance shape: the
    day's hot partitions re-cluster without touching years of cold
    ones."""
    marker = managed_table._read_marker(path)
    partition_by = tuple(marker.get("partition_by", ()) or ())
    return _compact_partitions(
        spark, path, partition_by, target_file_bytes, where,
        zorder_cols=list(cols), bits=bits,
    )


def _compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...],
    target_file_bytes: int,
    where: str,
    zorder_cols: list[str] | None = None,
    bits: int = 16,
) -> dict[str, int]:
    """Partition-scoped compaction: rewrite only the partition dirs
    selected by ``where``; all other data stays in place on disk.
    With ``zorder_cols`` the rewrite additionally CLUSTERS each
    selected partition on the Morton interleave of those columns
    (range partition + sort instead of hash slots).

    The only driver-side materialization is the distinct matching
    partition-value tuples — partition *metadata* (bounded by partition
    count, not row count), the same listing Delta's OPTIMIZE planner
    does on the driver.
    """
    if not partition_by:
        raise ValueError(
            "compact(where=...) requires partition_by: the predicate selects "
            "partition directories to rewrite, not rows"
        )
    _require_no_dv(path, "compact(where=...)")
    base_version = managed_table.table_version(path)
    df = managed_table._read_logical(spark, path)  # keep __row_id through the rewrite
    # collect the SPARK-rendered partition key alongside the values: the
    # slot map below is looked up with concat_ws(cast-to-string) at plan
    # time, and Python str(row[c]) renders bool/timestamp/float
    # differently (True vs true, fractional seconds) — a mismatched key
    # would return NULL n_out and silently collapse the partition into
    # one file
    part_rows = (
        df.filter(where)
        .select(*partition_by)
        .distinct()
        .withColumn(
            "__spark_key",
            F.concat_ws("/", *[F.col(c).cast("string") for c in partition_by]),
        )
        .collect()
    )

    before = table_file_stats(path)
    # ONE Spark job for every selected partition (the serial
    # job-per-directory loop scales wall-clock with partition COUNT,
    # the same flaw fixed for compact_binpack's bins): read all matched
    # dirs with basePath so partition columns survive, route each row
    # to one of its partition's size-targeted slots, hash-repartition
    # on (partition, slot) and write partitionBy in a single pass. The
    # per-directory swap stays — rename-pair per matched dir, metadata
    # only, same atomicity as before.
    # Partition directories come from the FILESYSTEM, matched on the
    # unescaped dir values against the Spark-rendered key — never from
    # Python f"{c}={row[c]}" rendering, which disagrees with Spark's
    # path encoding for bool (True vs true), timestamp (: is
    # %3A-escaped on disk), and float values, silently skipping those
    # partitions (the isdir probe misses).
    live_dirs = _hive_partition_dirs(path, partition_by)
    matched: list[tuple[str, str]] = []  # (spark_key, live subdir)
    n_out_by_key: dict[str, int] = {}
    for row in part_rows:
        key = row["__spark_key"]
        subdir = live_dirs.get(key)
        if subdir is None:  # pragma: no cover - defensive
            continue
        stats = table_file_stats(subdir)
        n_out_by_key[key] = int(
            max(1, stats["total_bytes"] // target_file_bytes)
        )
        matched.append((key, subdir))
    if not matched:
        return {"before": before, "after": before}

    sel = spark.read.option("basePath", path).parquet(
        *[subdir for _key, subdir in matched]
    )
    staging = f"{path}__compact_staging_parts_{_uuid.uuid4().hex[:8]}"
    if _fs().isdir(staging):  # pragma: no cover - leftover from crash
        _fs().rmtree(staging)
    n_tasks = max(sum(n_out_by_key.values()), 1)
    if zorder_cols:
        # cluster within each selected partition: range-partitioning on
        # (partition key, Morton code) keeps each partition contiguous
        # and z-sorted across its output files; the sort makes per-file
        # min/max tight on every clustered column
        from ..operators.layout import zorder_key

        clustered = (
            sel.withColumn(
                "__z", zorder_key([F.col(c) for c in zorder_cols], bits)
            )
            .repartitionByRange(n_tasks, *partition_by, F.col("__z"))
            .sortWithinPartitions(*partition_by, "__z")
            .drop("__z")
        )
    else:
        data_cols = [c for c in sel.columns if c not in partition_by]
        nout_map = F.create_map(
            *[F.lit(x) for k, n in n_out_by_key.items() for x in (k, n)]
        )
        part_key = F.concat_ws(
            "/", *[F.col(c).cast("string") for c in partition_by]
        )
        clustered = sel.withColumn(
            "__slot",
            F.pmod(
                F.xxhash64(F.struct(*[F.col(c) for c in data_cols])),
                nout_map[part_key],
            ),
        ).repartition(n_tasks, *partition_by, F.col("__slot")).drop("__slot")
    (
        clustered.write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(staging)
    )
    staged_dirs = _hive_partition_dirs(staging, partition_by)
    # ONE lock + version recheck covers every per-dir swap: the rename
    # phase is metadata-only, so the hold is short, and a commit that
    # landed mid-staging aborts the whole rewrite before any dir moves
    with _compaction_swap_guard(path, base_version, staging):
        for key, subdir in matched:
            staged_dir = staged_dirs.get(key)
            if staged_dir is None:  # pragma: no cover - defensive
                continue
            # backup is a SIBLING of the table root (never inside it: a
            # stray dir under the root would corrupt partition discovery);
            # its name reuses the on-disk (escaped) dir names, so it is
            # filesystem-safe for any partition value
            tag = os.path.relpath(subdir, path).replace(os.sep, "_")
            backup = f"{path}__compact_old_{tag}"
            _fs().rename_dir(subdir, backup)
            _fs().rename_dir(staged_dir, subdir)
            _fs().rmtree(backup)
        _fs().rmtree(staging)
        # partition swaps leave the table ROOT untouched — an exported
        # log / manifest at the root still names the files the swaps
        # just retired: shed them (re-export when auto), inside the lock
        _refresh_external_exports(spark, path, shed_root=True)
    return {"before": before, "after": table_file_stats(path)}


def _optimize_clustered(
    spark: SparkSession,
    path: str,
    layout_fn,
    manifest_cols: list[str],
    target_file_bytes: int,
    op: str,
) -> dict:
    """Shared OPTIMIZE-commit contract for the clustering rewrites
    (review r12: optimize_zorder / optimize_hilbert were 50-line
    copy-pastes — the commit kwargs below were fixed twice in rounds
    9-10 and must never diverge again). ``layout_fn(df, n_out)``
    returns the clustered frame; the rewrite routes through
    ``commit_overwrite``: atomic stage-and-swap, version bump (the
    pre-image stays time-travel readable), constraints carried,
    crash-healed by ``recover``. Unpartitioned tables only —
    clustering *within* hive partitions is ``compact(where=)`` /
    ``optimize_zorder_partitions``."""
    from .layout import write_stats_manifest

    marker = managed_table._read_marker(path)
    if marker.get("partition_by"):
        raise ValueError(
            f"{op} supports unpartitioned tables; for hive-partitioned "
            "tables compact partition dirs individually"
        )
    before = table_file_stats(path)
    df = managed_table._read_logical(spark, path)  # keep __row_id through the rewrite
    n_out = max(1, before["total_bytes"] // target_file_bytes)
    clustered = layout_fn(df, int(n_out))
    managed_table.commit_overwrite(
        clustered, path, keys=marker.get("keys", []), auto_optimize=False,
        # pin the version the rewrite was derived from: a commit landing
        # mid-optimize must make the OPTIMIZE lose loudly, never be
        # clobbered by a last-writer-wins overwrite (round 10)
        expected_version=int(marker.get("version", 0)),
        # OPTIMIZE preserves rows: allowed on appendOnly tables
        _append_only_ok=True,
        # OPTIMIZE preserves data, so it must preserve the table's txn
        # metadata too — resetting it would re-arm exactly-once sinks'
        # last_epoch and replay committed epochs after a(n auto-)
        # optimize lands mid-stream
        txn=marker.get("txn") or None,
        # ...and on a CDF table its change record is EMPTY (rows moved
        # files, none changed) — without a sidecar table_changes would
        # refuse every range crossing the optimize version
        changes=(
            df.limit(0).withColumn("_change_type", F.lit("insert"))
            if managed_table._cdf_on(marker)
            else None
        ),
    )
    write_stats_manifest(path, manifest_cols)
    return {"before": before, "after": table_file_stats(path)}


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    target_file_bytes: int = TARGET_FILE_BYTES,
    bits: int = 16,
) -> dict:
    """Delta ``OPTIMIZE ... ZORDER BY (cols)`` analogue: rewrite the
    managed table clustered on the Morton interleave of ``cols``
    (``operators/layout.zorder_layout``) into ~target-sized files, then
    refresh the ``_stats_manifest.json`` skipping index so point/range
    predicates on ANY of the clustered columns prune most files — the
    multi-column data-skipping layout one sort key can't give.

    At 100 TB this runs as one range-shuffle on the (cheap, computed)
    Morton key + a sorted write — the same cost profile as Delta's
    OPTIMIZE, and it never touches the driver. Commit contract:
    :func:`_optimize_clustered`."""
    from ..operators.layout import zorder_layout

    return _optimize_clustered(
        spark, path,
        lambda df, n_out: zorder_layout(df, list(cols), n_out, bits),
        list(cols), target_file_bytes, "optimize_zorder",
    )


def optimize_hilbert(
    spark: SparkSession,
    path: str,
    x: str,
    y: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    order: int = 16,
) -> dict:
    """``optimize_zorder``'s liquid-style sibling: rewrite the managed
    table clustered on the HILBERT index of ``(x, y)``
    (``operators/layout.hilbert_layout``) — same commit contract
    (:func:`_optimize_clustered`), same refreshed skipping manifest,
    tighter per-file bounding boxes than the Morton interleave (no
    seam jumps), which is why newer clustering schemes prefer the
    Hilbert curve. Unpartitioned tables only, like optimize_zorder."""
    from ..operators.layout import hilbert_layout

    return _optimize_clustered(
        spark, path,
        lambda df, n_out: hilbert_layout(df, x, y, n_out, order),
        [x, y], target_file_bytes, "optimize_hilbert",
    )


def purge_rows(
    spark: SparkSession, path: str, condition, max_history: int | None = None
) -> dict:
    """Right-to-ERASURE across time travel (GDPR Article 17 on a
    lakehouse). ``delete_where`` removes matching rows from the LIVE
    snapshot, but every RETAINED history version — including the
    delete's own pre-image — still serves them through
    ``read(version=)`` / ``read_as_of``. Delta's standard answer is
    DELETE + VACUUM with a zeroed retention, which destroys time
    travel wholesale; this purge is finer-grained: each retained
    snapshot is REWRITTEN WITHOUT the matching rows and swapped
    atomically in place, preserving its version number and commit
    ``ts`` — time travel keeps working, it just can never resurrect
    the erased rows.

    Semantics:
    - rows where the condition is TRUE are erased everywhere; NULL
      keeps (SQL DELETE semantics), matching ``delete_where``;
    - the condition references LOGICAL column names as served by each
      snapshot — pre-rename snapshots keep their as-written schema
      (``rename_column`` is live-marker-only), exactly like
      ``read(version=)``, so a predicate naming a post-rename column
      does not resolve on them. The PRE-FLIGHT pass below verifies the
      predicate analyzes on EVERY retained snapshot and aborts before
      any mutation otherwise (review r12: a mid-loop resolution error
      used to leave a partial erasure);
    - physical payloads of DROPPED columns are also scrubbed from the
      rewritten snapshots (a dropped PII column must not survive in
      history — that is the point of a purge);
    - snapshots with no matching rows are left byte-identical
      (untouched files, no rewrite);
    - each snapshot's marker keeps its original ``ts`` (read_as_of
      ordering intact) with refreshed row/file stats.

    Concurrency (review r12): the history rewrites, sidecar scrubs and
    export scrub run under the table's COMMIT LOCK — the in-place
    mutations preserve version AND commit ts by design, so the commit
    protocol's CAS cannot see them; the lock is the only serialization
    against a publish interleaving the swap dance. A writer whose
    staging was HARDLINK-prepared before the purge and publishes after
    can still carry pre-scrub change sidecars — run purges in a quiet
    window, or re-run the purge (it is idempotent).

    Scale shape: one filtered rewrite per retained snapshot that
    actually contains matches — the same cost Delta pays to rewrite
    matching files, bounded by ``max_history``. Returns
    ``{"live_removed", "history_rewritten", "history_rows_removed"}``.
    """
    mt = managed_table
    cond = F.expr(condition) if isinstance(condition, str) else condition
    match = F.coalesce(cond, F.lit(False))

    def _hist_snap(v: int) -> str:
        return os.path.join(mt._history_dir(path), f"v{v:06d}")

    # staging/backup dirs are SIBLINGS of the __history dir — a name
    # inside __history starting with 'v' used to crash list_versions
    # (review r12) — and vacuum's path__* sweep still collects strays
    def _stage_dir(v: int) -> str:
        return f"{mt._history_dir(path)}__purge_v{v:06d}"

    def _backup_dir(v: int) -> str:
        return f"{mt._history_dir(path)}__purgeold_v{v:06d}"

    # heal a previous purge's crash window: a backup with no snapshot
    # means the crash hit between the two renames — restore it; a
    # backup WITH a snapshot crashed after the swap — drop it. Heal
    # candidates come from the BACKUP/STAGING dirs on disk, never from
    # list_versions (a renamed-away snapshot is invisible there)
    for backup in _fs().glob(f"{mt._history_dir(path)}__purgeold_v*"):
        v = int(os.path.basename(backup).rsplit("_v", 1)[-1])
        snap = _hist_snap(v)
        if not _fs().isdir(snap):
            _fs().rename_dir(backup, snap)
        else:
            _fs().rmtree(backup)
    for staging in _fs().glob(f"{mt._history_dir(path)}__purge_v*"):
        _fs().rmtree(staging)

    # a purge must not silently SHRINK retention: default the delete's
    # history window to however many versions the table currently keeps
    if max_history is None:
        max_history = max(len(mt.list_versions(path)), 1)

    # PRE-FLIGHT: the predicate must analyze on every retained
    # snapshot's own logical schema BEFORE anything mutates
    live = mt.table_version(path)
    for v in mt.list_versions(path):
        snap = path if v == live else _hist_snap(v)
        marker = mt._read_marker(snap)
        logical = mt._apply_column_mapping(
            mt._read_physical(spark, snap), marker
        )
        try:
            logical.filter(match).schema  # analysis only, no job
        except Exception as e:
            raise ValueError(
                f"purge_rows: the condition does not resolve on retained "
                f"version {v} of {path} (snapshots keep their as-written "
                f"schema; a post-rename column name does not exist there). "
                f"Nothing was purged. Original error: {e}"
            ) from None

    live_removed = mt.read(spark, path).filter(match).count()
    if live_removed:
        mt.delete_where(spark, path, cond, max_history=max_history)
    live = mt.table_version(path)

    rewritten = 0
    history_removed = 0
    cdf_scrubbed = 0
    # the commit lock serializes the in-place history/sidecar mutation
    # against concurrent publishes (delete_where above took — and
    # released — its own lock; _commit_lock is not reentrant)
    with mt._commit_lock(path):
        for v in mt.list_versions(path):
            if v == live:
                continue
            snap = _hist_snap(v)
            marker = mt._read_marker(snap)
            # DV-aware: a retained snapshot committed by a deletion-vector
            # delete keeps its soft-deleted rows in the files — reading raw
            # parquet would resurrect them into the purged rewrite
            raw = mt._read_physical(spark, snap)
            logical = mt._apply_column_mapping(raw, marker)
            n_match = logical.filter(match).count()
            if n_match == 0:
                continue
            keep = logical.filter(~match)
            # rewrite under the snapshot's own PHYSICAL names so
            # read(version=) serves exactly what it did before, minus rows
            mapping = marker.get("column_mapping", {})
            back = {log: phys for log, phys in mapping.items() if log in keep.columns}
            if back:
                keep = keep.withColumnsRenamed(back)
            staging = _stage_dir(v)
            if _fs().isdir(staging):  # pragma: no cover - leftover from crash
                _fs().rmtree(staging)
            writer = keep.write.mode("overwrite")
            if marker.get("partition_by"):
                writer = writer.partitionBy(*marker["partition_by"])
            writer.parquet(staging)
            # the rewrite replaces the whole snapshot dir: carry the change
            # sidecar (the final scrub pass below erases matching rows from
            # every retained sidecar, this one included)
            _carry_cdf(snap, staging)
            new_marker = dict(marker)
            new_marker["dropped_columns"] = []  # payloads scrubbed for real
            # the purged rewrite materializes any deletion vector (fresh
            # files, no _dv sidecar) — a carried dv flag would point reads
            # at a sidecar that no longer exists
            new_marker.pop("dv", None)
            new_marker["stats"] = mt._snapshot_stats(staging)
            # fresh files: their own footers give the file schema
            new_marker.pop("file_schema", None)
            if file_schema := new_marker["stats"].pop("file_schema"):
                new_marker["file_schema"] = file_schema
            if not mt._data_files(staging):
                # a purge that matches EVERY row of a partitioned
                # snapshot writes zero files (partitionBy of nothing):
                # record schema-in-log or read(version=) dies on this
                # version forever (round-13 binpack sibling). ``keep``
                # is already renamed back to PHYSICAL names, so its
                # schema is exactly what the files would have carried.
                new_marker.setdefault("schema_json", keep.schema.json())
            mt._replace_marker(staging, new_marker)  # keeps the original ts
            backup = _backup_dir(v)
            _fs().rename_dir(snap, backup)
            _fs().rename_dir(staging, snap)
            _fs().rmtree(backup)
            rewritten += 1
            history_removed += n_match
        # change-data sidecars can hold the erased rows even when the
        # snapshot's data does not (a delete's own change record IS the
        # deleted rows — including the erasure delete this purge just
        # committed): scrub every retained sidecar, live included
        live = mt.table_version(path)
        for v in mt.list_versions(path):
            snap = path if v == live else _hist_snap(v)
            cdf_scrubbed += _scrub_cdf(spark, snap, match)
        # an exported external-reader log hardlinks RETAINED-version files
        # under the live snapshot (_delta_history) — those links keep the
        # pre-purge bytes alive after the in-place history rewrites. Scrub
        # the export wholesale; re-export if the table auto-exports.
        exported = False
        for d in (mt._DELTA_LOG_DIR, mt._DELTA_HISTORY_DIR):
            full = os.path.join(path, d)
            if _fs().isdir(full):
                _fs().rmtree(full)
                exported = True
        live_marker = mt._read_marker(path) or {}
        if exported and mt._prop_on(
            live_marker.get("properties"), mt._LOG_EXPORT_PROP
        ):
            export_delta_log(spark, path, versioned=True)
    return {
        "live_removed": int(live_removed),
        "history_rewritten": rewritten,
        "history_rows_removed": int(history_removed),
        "cdf_rows_scrubbed": int(cdf_scrubbed),
    }


def vacuum(
    path: str,
    retain_history: bool = False,
    retention_hours: float = 0.0,
    dry_run: bool = False,
) -> list[str]:
    """Remove leftover __staging/__old/__compact dirs from interrupted
    operations, plus retained ``__history`` version snapshots (Delta
    VACUUM analogue: unreferenced files AND expired time-travel
    snapshots). ``retain_history=True`` keeps the version snapshots —
    the blanket form of a retention window.

    Delta-parity knobs (r5): ``retention_hours`` keeps anything whose
    newest file is younger than the window (Delta's ``RETAIN n HOURS``
    — protects in-flight writers and still-pinned readers), and
    ``dry_run=True`` returns what WOULD be removed without touching
    disk (``VACUUM ... DRY RUN``)."""
    import time as _time

    cutoff = _time.time() - retention_hours * 3600.0

    def _young(d: str) -> bool:
        if retention_hours <= 0:
            return False
        newest = max(
            (
                _fs().getmtime(os.path.join(r, f))
                for r, _dd, ff in _fs().walk(d)
                for f in ff
            ),
            default=_fs().getmtime(d),
        )
        # (deletion-vector commits hardlink data files, preserving old
        # mtimes — but every snapshot's MARKER is freshly written at
        # its commit, so the walk above always sees the commit time)
        return newest > cutoff

    removed = []
    for leftover in sorted(_fs().glob(f"{path}__*")):
        if retain_history and leftover == f"{path}__history":
            continue
        if leftover == path + managed_table._SQL_VIEW_CANARY_SUFFIX:
            # the registered-SQL-view canary is LIVE metadata, not a
            # leftover: sweeping it spuriously invalidates every
            # registered view in every session (review r12) — only
            # reader-feature commits may delete it
            continue
        base = os.path.basename(leftover)
        lockbase = os.path.basename(path + managed_table._LOCK_SUFFIX)
        claimbase = os.path.basename(path) + managed_table._CLAIM_SUFFIX
        if base.startswith(lockbase) or base.startswith(claimbase):
            # crash-orphaned commit-lock / version-claim / steal-
            # tombstone FILES: sweep once stale (a live writer's are
            # seconds old; _commit_lock/_claim_version steal stale ones
            # themselves, this just tidies the listing)
            try:
                stale = (
                    _time.time() - _fs().getmtime(leftover)
                    > managed_table._LOCK_STALE_SECONDS
                )
            except OSError:
                continue
            if stale:
                removed.append(leftover)
                if not dry_run:
                    _fs().remove(leftover)
            continue
        if not _fs().isdir(leftover) or _young(leftover):
            continue
        removed.append(leftover)
        if not dry_run:
            _fs().rmtree(leftover)
    return removed


def schema_drift_report(
    spark: SparkSession, path: str, v_old: int, v_new: int | None = None
) -> list[dict]:
    """Column-level schema diff between two versions of a managed
    table — the data-contract check a pipeline runs before promoting a
    new snapshot (did the producer add, drop, or retype anything?).
    Reads only the two versions' SCHEMAS (parquet footers via a
    zero-row plan), never their data. Returns one dict per changed
    column: ``{"column", "change": added|removed|retyped,
    "old_type", "new_type"}``; empty list = contract intact."""
    old_schema = {
        f.name: f.dataType.simpleString()
        for f in managed_table.read(spark, path, version=v_old).schema.fields
    }
    new_schema = {
        f.name: f.dataType.simpleString()
        for f in managed_table.read(spark, path, version=v_new).schema.fields
    }
    report: list[dict] = []
    for c in sorted(set(old_schema) | set(new_schema)):
        if c not in old_schema:
            report.append(
                {"column": c, "change": "added",
                 "old_type": None, "new_type": new_schema[c]}
            )
        elif c not in new_schema:
            report.append(
                {"column": c, "change": "removed",
                 "old_type": old_schema[c], "new_type": None}
            )
        elif old_schema[c] != new_schema[c]:
            report.append(
                {"column": c, "change": "retyped",
                 "old_type": old_schema[c], "new_type": new_schema[c]}
            )
    return report


def compact_binpack(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    small_file_bytes: int | None = None,
) -> dict:
    """INCREMENTAL compaction, the way Delta's OPTIMIZE actually works:
    only files below ``small_file_bytes`` (default target/2) are
    rewritten — first-fit-decreasing bin-packed into ~target-sized
    outputs — while every already-right-sized file is carried into the
    new snapshot untouched (hard-linked locally; on an object store
    this is the metadata-only "add existing file to new version" a log
    commit does for free). ``compact``'s whole-table rewrite is the
    right tool after churn everywhere; this one is O(small files) no
    matter how big the table has grown — the only shape that works
    when 99% of a 100 TB table is already well-sized.

    Unpartitioned tables; atomic via the same staging + rename-pair
    swap as ``compact``. Returns before/after stats plus the number of
    files rewritten vs carried.
    """
    small_file_bytes = small_file_bytes or target_file_bytes // 2
    marker = managed_table._read_marker(path)
    managed_table._check_writer(marker, path)
    base_version = int(marker.get("version", 0))
    if marker.get("partition_by"):
        raise ValueError(
            "compact_binpack supports unpartitioned tables; compact "
            "hive partitions individually with compact(where=)"
        )
    _require_no_dv(path, "compact_binpack")
    before = table_file_stats(path)
    files = sorted(
        (
            (f, _fs().getsize(f))
            for f in _fs().glob(os.path.join(path, "*.parquet"))
        ),
        key=lambda t: -t[1],
    )
    smalls = [(f, s) for f, s in files if s < small_file_bytes]
    bigs = [(f, s) for f, s in files if s >= small_file_bytes]
    if len(smalls) < 2:
        return {
            "before": before,
            "after": before,
            "rewritten": 0,
            "carried": len(files),
        }
    # first-fit-decreasing into <= target bins
    bins: list[list[str]] = []
    loads: list[int] = []
    for f, s in smalls:  # already size-descending
        for i, load in enumerate(loads):
            if load + s <= target_file_bytes:
                bins[i].append(f)
                loads[i] += s
                break
        else:
            bins.append([f])
            loads.append(s)

    staging = f"{path}__compact_staging_{_uuid.uuid4().hex[:8]}"
    if _fs().isdir(staging):  # pragma: no cover - leftover from crash
        _fs().rmtree(staging)
    _fs().makedirs(staging)
    for f, _s in bigs:  # carry untouched files (metadata-only move)
        dst = os.path.join(staging, os.path.basename(f))
        _fs().link_or_copy(f, dst)
    # carry skipping-manifest sidecars so the post-swap incremental
    # refresh can reuse the carried files' entries (basename-matched)
    for sidecar in ("_stats_manifest.json", "_bloom_manifest.json"):
        src = os.path.join(path, sidecar)
        if _fs().exists(src):
            _fs().copy(src, os.path.join(staging, sidecar))
    _carry_cdf(path, staging)
    # ONE Spark job for every bin (wall-clock scales with data volume,
    # not bin count): tag each row with its bin via a broadcast-joined
    # file->bin map over input_file_name(), hash-repartition on the bin
    # id (each bin lands wholly in one task; a task may hold several
    # bins), and write partitionBy(bin) so each bin emits exactly one
    # file. The driver then flattens the tiny per-bin dirs with
    # metadata-only renames (n_bins syscalls, not n_bins Spark jobs).
    file_to_bin = [
        (os.path.basename(f), i) for i, b in enumerate(bins) for f in b
    ]
    bin_map = F.create_map(
        *[F.lit(x) for f, i in file_to_bin for x in (f, i)]
    )
    raw_smalls = spark.read.parquet(*[f for f, _s in smalls])
    smalls_df = raw_smalls.withColumn(
        "__bin",
        bin_map[F.element_at(F.split(F.input_file_name(), "/"), -1)],
    ).repartition(max(len(bins), 1), "__bin")
    bin_staging = f"{staging}__bins"
    smalls_df.write.mode("overwrite").partitionBy("__bin").parquet(bin_staging)
    seq = 0
    for d in sorted(_fs().listdir(bin_staging)):
        full = os.path.join(bin_staging, d)
        if not _fs().isdir(full):
            continue
        if not d.startswith("__bin="):  # pragma: no cover - safety net
            raise RuntimeError(
                f"compact_binpack: rows landed outside a bin ({d}); "
                "aborting before the swap, table unchanged"
            )
        for part in sorted(_fs().listdir(full)):
            if part.endswith(".parquet"):
                _fs().rename_dir(
                    os.path.join(full, part),
                    os.path.join(staging, f"bin-{seq:05d}-{part}"),
                )
                seq += 1
    _fs().rmtree(bin_staging)
    # metadata-preserving marker (see compact): binpack rewrites bytes,
    # never the logical table — and it carries files PHYSICALLY, so the
    # pending logical-schema metadata (column_mapping / dropped_columns
    # / added_columns) must carry too or a rename un-renames, dropped
    # payloads resurrect, and declared ADD COLUMNs vanish (review r12)
    managed_table._write_marker_like(
        staging, marker, (), carry_schema_metadata=True,
        # 0-row smalls + no carried bigs emit ZERO files (partitionBy
        # of nothing writes nothing): record the PHYSICAL schema so the
        # swapped snapshot stays readable (round-13 soak find). Raw
        # read schema = the files' physical layout, which the pending
        # column metadata carried above still applies to.
        schema_json_fallback=raw_smalls.schema.json(),
    )

    with _compaction_swap_guard(path, base_version, staging):
        backup = f"{path}__compact_old_{_uuid.uuid4().hex[:8]}"
        _fs().rename_dir(path, backup)
        _fs().rename_dir(staging, path)
        _fs().rmtree(backup)
        # staging never carried an exported _delta_log — re-export
        # inside the lock on auto-export tables (the autoCompact hook
        # runs AFTER _checked_publish's in-lock export, which this swap
        # just shed)
        _refresh_external_exports(spark, path)
    _refresh_skipping_indexes(spark, path)
    return {
        "before": before,
        "after": table_file_stats(path),
        "rewritten": len(smalls),
        "carried": len(bigs),
    }


def _refresh_skipping_indexes(spark: SparkSession, path: str) -> None:
    """After a compaction rewrote/renamed files, bring any EXISTING
    skipping manifests back in sync incrementally: carried files keep
    their basenames (entries survive byte-identical), rewritten bins
    are new files (indexed fresh), vanished smalls drop out. Columns
    and bloom geometry come from the manifests themselves. No-op when
    a table has no indexes — indexing is an explicit choice."""
    import json as _json

    from .layout import update_bloom_manifest, update_stats_manifest

    stats = os.path.join(path, "_stats_manifest.json")
    if _fs().exists(stats):
        try:
            cols = sorted(
                {
                    c
                    for e in _json.loads(_fs().read_text(stats))
                    for c in e.get("stats", {})
                }
            )
        except _json.JSONDecodeError:  # pragma: no cover - torn
            cols = []
        if cols:
            update_stats_manifest(path, cols)
    bloom = os.path.join(path, "_bloom_manifest.json")
    if _fs().exists(bloom):
        try:
            m = _json.loads(_fs().read_text(bloom))
            bcols = sorted(
                {c for entry in m.get("files", {}).values() for c in entry}
            )
            if bcols:
                update_bloom_manifest(
                    spark, path, bcols,
                    num_bits=m["num_bits"], num_hashes=m["num_hashes"],
                )
        except _json.JSONDecodeError:  # pragma: no cover - torn
            pass


def clustering_depth(path: str, column: str) -> dict:
    """Zone-map CLUSTERING DEPTH from per-file [min, max] stats — the
    advisor number behind OPTIMIZE scheduling (the registry query
    ``layout_zone_depth`` demonstrates the same metric on synthetic
    zones). For each file: how many files' ranges a point query
    landing in its range may have to touch. 1.0 = perfectly disjoint
    slices (range pruning works); #files = fully interleaved (pruning
    is useless).

    Driver METADATA work only — stats come from the skipping manifest
    (or footers via ``pruned_file_list``'s loader contract), and the
    overlap count is an O(F log F) boundary sweep over sorted bounds:
    overlap(f) = #{g : g.lo <= f.hi} - #{g : g.hi < f.lo}. No Spark
    job, no row reads — the same traffic as a log replay.
    """
    import bisect
    import json as _json

    ranges: list[tuple] = []
    manifest = os.path.join(path, "_stats_manifest.json")
    if _fs().exists(manifest):
        by_base = {
            os.path.basename(e["file"]): e.get("stats", {})
            for e in _json.loads(_fs().read_text(manifest))
        }
        for f in sorted(_fs().glob(os.path.join(path, "*.parquet"))):
            st = by_base.get(os.path.basename(f), {}).get(column)
            if st is not None:
                ranges.append((st[0], st[1]))
    else:
        import pyarrow.parquet as pq

        for f in sorted(_fs().glob(os.path.join(path, "*.parquet"))):
            md = pq.read_metadata(f)
            lo_f, hi_f = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if (
                        col.path_in_schema == column
                        and col.statistics is not None
                    ):
                        s = col.statistics
                        lo_f = s.min if lo_f is None else min(lo_f, s.min)
                        hi_f = s.max if hi_f is None else max(hi_f, s.max)
            if lo_f is not None:
                ranges.append((lo_f, hi_f))
    if not ranges:
        return {"n_files": 0, "avg_depth": 0.0, "max_depth": 0}
    los = sorted(lo for lo, _ in ranges)
    his = sorted(hi for _, hi in ranges)
    depths = [
        bisect.bisect_right(los, hi) - bisect.bisect_left(his, lo)
        for lo, hi in ranges
    ]
    return {
        "n_files": len(ranges),
        "avg_depth": sum(depths) / len(depths),
        "max_depth": max(depths),
    }


def optimize_if_degraded(
    spark: SparkSession,
    path: str,
    column: str | Sequence[str],
    max_avg_depth: float = 2.0,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """Liquid-clustering-style MAINTENANCE TRIGGER: measure the zone
    depth for the clustering column(s) and re-cluster ONLY when it
    degraded past ``max_avg_depth`` — appends/merges erode clustering
    gradually, and rewriting a well-clustered 100 TB table on a
    schedule is pure waste. The depth probe is driver metadata (no
    Spark job; multi-column = worst single-column depth, since one
    badly-overlapped dimension already breaks that column's skipping);
    the rewrite, when triggered, is the atomic versioned
    ``optimize_zorder`` (Morton interleave across ALL declared
    columns) with a refreshed skipping manifest. Returns the decision
    with before/after depths."""
    cols = [column] if isinstance(column, str) else list(column)
    before = {c: clustering_depth(path, c) for c in cols}
    worst = max((d["avg_depth"] for d in before.values()), default=0.0)
    if all(d["n_files"] == 0 for d in before.values()) or worst <= max_avg_depth:
        return {"reclustered": False, "depth": before[cols[0]], "depths": before}
    stats = optimize_zorder(
        spark, path, cols, target_file_bytes=target_file_bytes
    )
    return {
        "reclustered": True,
        "depth": before[cols[0]],
        "depths": before,
        "depth_after": clustering_depth(path, cols[0]),
        "depths_after": {c: clustering_depth(path, c) for c in cols},
        "files": stats,
    }


def generate_symlink_manifest(path: str) -> list[str]:
    """Delta ``GENERATE symlink_format_manifest`` (delta-spark
    ``DeltaTable.generate``): write ``_symlink_format_manifest/
    [<partition dirs>/]manifest`` text files listing the live
    snapshot's data files by absolute path — the integration surface
    external engines (Presto / Trino / Athena / DuckDB) use to read a
    Delta table's CURRENT snapshot through plain parquet scans, without
    a Delta reader.

    Same contract as Delta's MANUAL generate mode: the manifest is a
    point-in-time listing — regenerate after every commit (a stale
    manifest names files a later swap retired, which fails the external
    read loudly rather than serving wrong rows). Refuses tables with an
    active deletion vector: an external raw scan of the listed files
    would resurrect soft-deleted rows — run
    :func:`materialize_deletes` first. Returns the manifest file paths.

    Driver cost: one partition-dir walk + dirent listings — metadata
    only, the same listing Delta's manifest generation does."""
    marker = managed_table._read_marker(path)
    if not marker:
        raise ValueError(f"{path} is not a managed table")
    if marker.get("dv"):
        raise ValueError(
            "generate_symlink_manifest: the table has an active deletion "
            "vector — an external scan of the listed files would "
            "resurrect soft-deleted rows. Run "
            "maintenance.materialize_deletes first."
        )
    base = os.path.join(path, "_symlink_format_manifest")
    if _fs().isdir(base):
        _fs().rmtree(base)
    partition_by = tuple(marker.get("partition_by", ()) or ())
    written: list[str] = []

    def _emit(dirpath: str, rel: str) -> None:
        files = sorted(
            os.path.abspath(f)
            for f in _fs().glob(os.path.join(dirpath, "*.parquet"))
        )
        if not files:
            return
        mdir = base if rel == "." else os.path.join(base, rel)
        _fs().makedirs(mdir, exist_ok=True)
        mpath = os.path.join(mdir, "manifest")
        _fs().write_atomic(mpath, "\n".join(files) + "\n")
        written.append(mpath)

    if partition_by:
        for _key, d in sorted(_hive_partition_dirs(path, partition_by).items()):
            _emit(d, os.path.relpath(d, path))
    else:
        _emit(path, ".")
    return written


def _snapshot_data_files(snap: str) -> dict[str, tuple[int, int]]:
    """Relative-path inventory of a snapshot's DATA files:
    ``relpath -> (size, mtime_ms)``. Sidecar dirs (underscore-prefixed)
    are excluded. Relpath is a stable file identity ACROSS versions:
    every write path creates fresh uniquely-named files, so the same
    relpath in two retained snapshots is the same hardlinked inode
    (append chains), never two different byte streams."""
    out: dict[str, tuple[int, int]] = {}
    for f in sorted(
        _fs().glob(os.path.join(snap, "**", "*.parquet"), recursive=True)
    ):
        rel = os.path.relpath(f, snap)
        if any(p.startswith("_") for p in rel.split(os.sep)[:-1]):
            continue
        out[rel.replace(os.sep, "/")] = (
            _fs().getsize(f),
            int(_fs().getmtime(f) * 1000),
        )
    return out


def _partition_values(rel: str) -> dict:
    from urllib.parse import unquote

    pvals = {}
    for comp in rel.split("/")[:-1]:
        col, _eq, raw = comp.partition("=")
        pvals[col] = (
            None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
        )
    return pvals


def _write_checkpoint(
    log_dir: str, version: int, metadata: dict, adds: list[dict]
) -> str:
    """Write the Delta protocol's CHECKPOINT for export commit
    ``version``: `{version:020d}.checkpoint.parquet` (one row per
    action — exactly one of txn/add/remove/metaData/protocol non-null,
    the classic checkpoint column layout from delta-io PROTOCOL.md)
    plus the `_last_checkpoint` pointer JSON. An external reader then
    loads the full table state from ONE parquet file and replays only
    commits newer than the checkpoint — O(tail), not O(versions); at
    a 1000-commit retained history that is the difference between one
    columnar read and a thousand NDJSON parses. Written with pyarrow
    (driver-side, no Spark job — this runs inside the commit lock when
    ``delta.logExport.auto`` is set). Per the spec, add actions in a
    checkpoint carry ``dataChange=false``; remove tombstones are
    omitted because the emulation's snapshot swap already physically
    retired those files (there is nothing for an external VACUUM to
    coordinate on)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    map_t = pa.map_(pa.string(), pa.string())
    txn_t = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", map_t),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            (
                "format",
                pa.struct([("provider", pa.string()), ("options", map_t)]),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", map_t),
            ("createdTime", pa.int64()),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )

    n = 2 + len(adds)
    meta_row = {
        "id": metadata["id"],
        "name": None,
        "description": None,
        "format": {
            "provider": metadata["format"]["provider"],
            "options": list(metadata["format"]["options"].items()),
        },
        "schemaString": metadata["schemaString"],
        "partitionColumns": metadata["partitionColumns"],
        "configuration": list(metadata["configuration"].items()),
        "createdTime": metadata["createdTime"],
    }
    add_rows = [None, None] + [
        {
            "path": a["path"],
            "partitionValues": list(a["partitionValues"].items()),
            "size": a["size"],
            "modificationTime": a["modificationTime"],
            "dataChange": False,
        }
        for a in adds
    ]
    table = pa.table(
        {
            "txn": pa.nulls(n, type=txn_t),
            "add": pa.array(add_rows, type=add_t),
            "remove": pa.nulls(n, type=remove_t),
            "metaData": pa.array(
                [None, meta_row] + [None] * len(adds), type=meta_t
            ),
            "protocol": pa.array(
                [{"minReaderVersion": 1, "minWriterVersion": 2}]
                + [None] * (n - 1),
                type=proto_t,
            ),
        }
    )
    ckpt = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    pq.write_table(table, ckpt + ".__tmp")
    _fs().replace(ckpt + ".__tmp", ckpt)
    _fs().write_atomic(
        os.path.join(log_dir, "_last_checkpoint"),
        json.dumps({"version": version, "size": n}) + "\n",
    )
    return ckpt


def export_delta_log(
    spark: SparkSession, path: str, versioned: bool = False,
    checkpoint: bool = True,
) -> str:
    """Write a REAL Delta Lake transaction log (`_delta_log/
    {version:020d}.json`) per the public Delta protocol spec (delta-io
    PROTOCOL.md): `protocol` (minReader 1 / minWriter 2 — plain
    parquet, no table features), `metaData` (Spark-JSON schemaString —
    the exact format Delta uses — partition columns, table properties
    as configuration), and one `add` action per data file (URL-encoded
    relative path, partitionValues from the Hive layout, size,
    modificationTime, dataChange). The snapshot directory then IS a
    readable Delta table for any external Delta engine (delta-spark,
    Trino/Presto, DuckDB's delta extension) — one step beyond the
    symlink manifest, which only lists files.

    ``versioned=False``: one commit JSON describing the live snapshot —
    the point-in-time contract of ``generate_symlink_manifest``
    (regenerate after every commit; the next snapshot swap or
    hardlinking commit sheds the log, so a reader can never see a
    stale log over new files).

    ``versioned=True``: one commit JSON per RETAINED version, oldest
    first — external engines can time-travel (`VERSION AS OF k`) and
    tail the log. Export commit `k` is the k-th oldest retained engine
    version (Delta requires the log to start at 0; retention means the
    engine's absolute version numbers need not) — each commitInfo
    records the engine version as `engineCommitVersion`. Files that
    exist only in retained history snapshots are HARDLINKED under the
    live snapshot's `_delta_history/` (underscore-hidden from raw data
    reads; add paths point into it), so every referenced path resolves
    under the table root. Consecutive versions diff into add/remove
    actions; a schema change re-emits `metaData` at the commit where
    it happened. Versions older than a snapshot requiring engine
    reader features (e.g. a historical deletion-vector commit) are
    excluded — exporting them as plain adds would serve wrong rows.

    Refuses tables whose LIVE scan needs engine reader features
    (active deletion vectors, pending column renames/drops or ADD
    COLUMNs, zero-file snapshots). The hidden ``__row_id`` column may
    exist in the parquet files; Delta readers project the declared
    schemaString, so it stays hidden. No external Delta reader ships
    in this sandbox, so the contract is pinned structurally (tests
    parse the log, check the file inventory byte-for-byte, round-trip
    the schema, and replay an external read through DuckDB over the
    add-file list, including version N and N-1 of a versioned export).

    ``checkpoint=True`` (default) also writes the protocol's
    CHECKPOINT at the newest export version — a single
    `{v:020d}.checkpoint.parquet` holding the full reconstructed
    state plus the `_last_checkpoint` pointer — so an external reader
    starts from one columnar file instead of replaying every commit
    JSON (see :func:`_write_checkpoint`).

    Driver cost: one file walk per retained version + hardlinks +
    JSON writes — metadata only, no Spark jobs beyond schema reads.
    Returns the newest commit-JSON path. Set the
    ``delta.logExport.auto`` table property to re-export (versioned)
    inside every commit — see ``managed_table._checked_publish``."""
    import json
    import uuid as _uuid
    from urllib.parse import quote

    recover = managed_table.recover
    recover(path)
    marker = managed_table._read_marker(path)
    if not marker:
        raise ValueError(f"{path} is not a managed table")
    reader_feats, _w = managed_table._required_features(marker)
    if reader_feats:
        raise managed_table.ProtocolError(
            f"export_delta_log: table requires reader features "
            f"{sorted(reader_feats)} — plain add-file actions would "
            "serve wrong rows (materialize deletes / rewrite pending "
            "column ops first)"
        )
    live_v = managed_table.table_version(path)
    hist = managed_table._history_dir(path)

    # retained snapshots, oldest first; drop anything at or before a
    # version whose own scan would need reader features
    snaps: list[tuple[int, str]] = [(live_v, path)]
    if versioned:
        snaps = []
        for v in managed_table.list_versions(path):
            snap = path if v == live_v else os.path.join(hist, f"v{v:06d}")
            m = managed_table._read_marker(snap)
            if not m:
                continue
            r, _ = managed_table._required_features(m)
            if r:
                snaps = []  # restart after the last feature-bearing version
                continue
            snaps.append((v, snap))

    log_dir = os.path.join(path, managed_table._DELTA_LOG_DIR)
    hist_link_dir = os.path.join(path, managed_table._DELTA_HISTORY_DIR)
    for d in (log_dir, hist_link_dir):
        if _fs().isdir(d):
            _fs().rmtree(d)
    _fs().makedirs(log_dir)

    inv = {v: _snapshot_data_files(snap) for v, snap in snaps}
    live_files = inv[live_v]

    # files referenced only by retained history: hardlink them under
    # the live root so every add path resolves against the table dir
    retained_only: dict[str, str] = {}  # relpath -> source snapshot dir
    for v, snap in snaps:
        for rel in inv[v]:
            if rel not in live_files:
                retained_only[rel] = snap  # newest containing snap wins
    for rel, snap in sorted(retained_only.items()):
        tgt = os.path.join(hist_link_dir, rel.replace("/", os.sep))
        _fs().makedirs(os.path.dirname(tgt), exist_ok=True)
        _fs().link_or_copy(os.path.join(snap, rel.replace("/", os.sep)), tgt)

    def _served_path(rel: str) -> str:
        if rel in live_files:
            return quote(rel, safe="/")
        return quote(f"{managed_table._DELTA_HISTORY_DIR}/{rel}", safe="/")

    table_id = str(_uuid.uuid4())
    props = marker.get("properties") or {}

    def _metadata_action(schema_json: str, created_ts: float) -> dict:
        return {
            "metaData": {
                "id": table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": list(marker.get("partition_by", ()) or ()),
                "configuration": {
                    k: str(v) for k, v in props.items()
                    if isinstance(v, (str, int, float, bool))
                },
                "createdTime": int(created_ts * 1000),
            }
        }

    log_file = ""
    prev_inv: dict[str, tuple[int, int]] = {}
    prev_schema: str | None = None
    last_meta: dict = {}
    for i, (v, snap) in enumerate(snaps):
        snap_marker = managed_table._read_marker(snap) or {}
        schema_json = managed_table.read(
            spark, path, version=None if v == live_v else v
        ).schema.json()
        actions = [
            {
                "commitInfo": {
                    "operation": "WRITE" if i == 0 else "MERGE",
                    "operationParameters": {},
                    "engineInfo": "managed-table-emulation delta-log export",
                    "engineCommitVersion": v,
                    "timestamp": int(
                        float(snap_marker.get("ts", 0.0)) * 1000
                    ),
                }
            }
        ]
        if i == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if schema_json != prev_schema:
            actions.append(
                _metadata_action(
                    schema_json, float(snap_marker.get("ts", 0.0))
                )
            )
            last_meta = actions[-1]["metaData"]
        cur = inv[v]
        for rel in sorted(set(prev_inv) - set(cur)):
            actions.append(
                {
                    "remove": {
                        "path": _served_path(rel),
                        "deletionTimestamp": int(
                            float(snap_marker.get("ts", 0.0)) * 1000
                        ),
                        "dataChange": True,
                    }
                }
            )
        for rel in sorted(set(cur) - set(prev_inv)):
            size, mtime = cur[rel]
            actions.append(
                {
                    "add": {
                        "path": _served_path(rel),
                        "partitionValues": _partition_values(rel),
                        "size": size,
                        "modificationTime": mtime,
                        "dataChange": True,
                    }
                }
            )
        log_file = os.path.join(log_dir, f"{i:020d}.json")
        _fs().write_atomic(
            log_file, "\n".join(json.dumps(a) for a in actions) + "\n"
        )
        prev_inv, prev_schema = cur, schema_json
    if checkpoint and snaps:
        # full state at the newest export version: prev_inv IS the
        # live inventory when the loop exits (every live rel serves
        # from the table root, never _delta_history)
        _write_checkpoint(
            log_dir,
            len(snaps) - 1,
            last_meta,
            [
                {
                    "path": _served_path(rel),
                    "partitionValues": _partition_values(rel),
                    "size": prev_inv[rel][0],
                    "modificationTime": prev_inv[rel][1],
                }
                for rel in sorted(prev_inv)
            ],
        )
    return log_file
