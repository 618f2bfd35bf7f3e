"""Managed table with Delta-MERGE-equivalent upsert semantics.

The reference relies on ``delta.tables.DeltaTable`` for
``merge(...).whenMatchedUpdateAll().whenNotMatchedInsertAll()``
(``/root/reference/glue_jobs/01_silver_delta_upsert.py:99-112``) and
``DeltaTable.isDeltaTable`` existence probes. This module re-expresses
those semantics over parquet snapshots (``delta-spark`` is not a
dependency; :mod:`sources.delta_api` is the delta-spark-shaped facade
over this module). MERGE is DataFrame algebra —
      merged = target LEFT ANTI JOIN source ON keys   (unmatched target)
               UNION ALL source                       (updateAll+insertAll)
then an atomic directory swap. With a key-unique source this is
exactly ``whenMatchedUpdateAll/whenNotMatchedInsertAll``.

Scale notes (100 TB): the anti-join shuffles on the merge keys — the
same cost Delta MERGE pays for its inner join; when the source is small
(incremental loads — the reference's late-data scenario) broadcast it.
The emulation rewrites the whole table (Delta rewrites only matched
files).

Storage note: every mutating/listing filesystem primitive goes through
the ``TableFS`` seam (``sources/fs.py``) — locally the swap is
``os.rename`` based (atomic on POSIX); on object stores the same seam
maps to manifest-pointer conditional PUTs (see fs.py's per-API table),
the same contract Delta's log store relies on.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .fs import get_fs as _fs

_MARKER = "_engine_table.json"
# Deletion-vector sidecar: a parquet dataset of (file basename, row
# index) pairs for rows logically deleted without rewriting their data
# files. Underscore-prefixed so Spark's data reads of the snapshot
# directory never see it (the same hidden-path rule _delta_log relies
# on); explicit reads of <snapshot>/_dv still work because listing
# starts inside the directory.
_DV_DIR = "_dv"
_DV_FILE_COL = "__dv_file"
_DV_IDX_COL = "__dv_idx"
# the sidecar's fixed layout: read with it, never inferred
_DV_SCHEMA = StructType(
    [StructField(_DV_FILE_COL, StringType()), StructField(_DV_IDX_COL, LongType())]
)
# Footer key under which Spark stores a data file's row schema
# (StructType JSON); Spark's own schema inference reads it back verbatim.
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
# Change-data-feed sidecar: the row-level changes THAT PRODUCED this
# snapshot (data columns + _change_type), recorded at commit time by
# the DML paths when the table property enables CDF — so CDC readers
# pay O(changes), never an O(table) snapshot diff. Underscore-hidden
# from data reads, same as _dv.
_CDF_DIR = "_change_data"
_CDF_PROP = "enableChangeDataFeed"
# External-reader export sidecars (maintenance.export_delta_log): a
# point-in-time Delta transaction log over the live snapshot, plus the
# hardlinked retained-version files the versioned export references.
# Both are underscore-hidden from data reads and MUST be shed by every
# hardlinking commit (append / DV delete / DV update) — carrying them
# forward would serve an external Delta engine a log that predates the
# commit (missing appended rows, resurrecting soft-deleted ones).
# Rewriting commits shed them by construction.
_DELTA_LOG_DIR = "_delta_log"
_DELTA_HISTORY_DIR = "_delta_history"
# Row tracking (Delta `delta.enableRowTracking`): a hidden BIGINT column
# materialized in the data files gives every row a STABLE id — preserved
# across UPDATE / MERGE-update / DELETE-survivor / OPTIMIZE / DV commits,
# assigned fresh above a monotonic high-water mark for inserts. The
# substrate for incremental materialized-view maintenance: a consumer
# can join successive versions on _row_id instead of guessing keys.
_ROWID_COL = "__row_id"
_ROWID_PUBLIC = "_row_id"
_ROWTRACK_PROP = "enableRowTracking"
# Delta `delta.appendOnly`: rows may be ADDED, never changed or removed
# — the governance property audit/event-log tables declare so no
# pipeline (or operator fat-finger) can rewrite history. Enforced at
# every mutating entry point; GDPR purge_rows is the ONE documented
# override (legal erasure outranks immutability) and requires the
# caller to drop the property first.
_APPEND_ONLY_PROP = "appendOnly"


class ConcurrentWriteError(RuntimeError):
    """Another commit landed between this writer's snapshot read and its
    commit — the emulation's analogue of Delta's
    ``ConcurrentAppendException`` family. Optimistic concurrency: the
    caller re-reads and retries. (Coarser than Delta: ANY intervening
    commit conflicts — the emulation rewrites whole snapshots, so there
    is no disjoint-files fast path.)

    Layering contract (mirrors Delta's data-files-vs-log split): the
    per-table swap guarantees ATOMICITY — the final (data, marker) pair
    is always one writer's, never a mix (cross-process-pinned in
    ``tests/test_table_race.py``) — while the version recheck narrows
    but cannot close the lost-update window (rename alone cannot build
    CAS). True multi-writer EXCLUSION belongs to the txn catalog,
    whose put-if-absent versioned manifest is the commit log
    (``sources/txn_catalog.py``); concurrent writers should commit
    through it, exactly as concurrent Delta writers go through the
    log store's conditional put."""


class ConstraintViolationError(ValueError):
    """A write contained rows for which a table CHECK constraint
    evaluated to FALSE (NULL passes, per SQL/Delta CHECK semantics)."""


class AppendOnlyError(RuntimeError):
    """A mutating operation hit a table with the ``appendOnly`` property
    (Delta ``delta.appendOnly``): rows may be added, never changed or
    removed. Drop the property explicitly (an audited ALTER) if history
    really must be rewritten."""


def _check_append_only(marker: dict, op: str) -> None:
    if _prop_on(marker.get("properties"), _APPEND_ONLY_PROP):
        raise AppendOnlyError(
            f"{op} is not allowed on an appendOnly table — rows may be "
            "added, never changed or removed (drop the appendOnly "
            "property first if history really must be rewritten)"
        )


class SchemaEnforcementError(ValueError):
    """A commit's DataFrame schema does not match the live table's
    logical schema (Delta's write-time schema enforcement — the
    'no silent schema drift' half of the lakehouse contract). Pass
    ``schema_mode="merge"`` to union the schemas (mergeSchema) or
    ``schema_mode="overwrite"`` to replace them (overwriteSchema)."""


class ProtocolError(RuntimeError):
    """The table requires a protocol feature this engine build does not
    support (Delta's ``readerFeatures``/``writerFeatures`` table-features
    contract, delta PROTOCOL.md). Failing LOUDLY is the whole point: an
    engine that does not understand deletion vectors and scans the data
    files raw would silently resurrect deleted rows; one that does not
    understand change-data-feed and commits without a sidecar would punch
    a silent hole in the feed. Unknown feature => refuse, never guess."""


# Features THIS build understands. A marker listing anything outside
# these sets refuses to read / be committed over (``_check_reader`` /
# ``_check_writer``) — mirroring Delta's table-features negotiation,
# where readers check readerFeatures and writers check writerFeatures.
SUPPORTED_READER_FEATURES = frozenset(
    {"deletionVectors", "columnMapping", "columnDefaults",
     "emptyTableSchema"}
)
SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "deletionVectors",
        "columnMapping",
        "changeDataFeed",
        "checkConstraints",
        "generatedColumns",
        "identityColumns",
        "uniqueKeys",
        "rowTracking",
        "columnDefaults",
        "emptyTableSchema",
    }
)


def _required_features(marker: dict) -> tuple[set, set]:
    """Derive (reader, writer) feature sets from marker content. Reader
    features change what a SCAN must do to be correct (miss one => wrong
    rows); writer features change what a COMMIT must maintain (miss one
    => corrupted metadata/feed). Matches Delta's split: CDF, constraints,
    generated/identity columns are writer-only — a plain read of such a
    table is safe."""
    reader: set = set()
    writer: set = set()
    if marker.get("dv"):
        reader.add("deletionVectors")
        writer.add("deletionVectors")
    if marker.get("column_mapping") or marker.get("dropped_columns"):
        reader.add("columnMapping")
        writer.add("columnMapping")
    if marker.get("added_columns"):
        # reader: a scan that can't synthesize the pending column serves
        # a narrower schema; writer: a commit that doesn't materialize
        # it would silently drop the declared column
        reader.add("columnDefaults")
        writer.add("columnDefaults")
    if marker.get("has_cdf") or _prop_on(marker.get("properties"), _CDF_PROP):
        writer.add("changeDataFeed")
    if marker.get("constraints"):
        writer.add("checkConstraints")
    if marker.get("generated"):
        writer.add("generatedColumns")
    if marker.get("identity"):
        writer.add("identityColumns")
    if marker.get("unique_keys"):
        writer.add("uniqueKeys")
    if marker.get("schema_json"):
        # zero-data-file snapshot: the schema lives in the marker
        # (Delta's schema-in-log). Reader: a scan that can't synthesize
        # the empty frame fails (loudly) on schema inference; writer: a
        # file-preserving commit that drops the field strands the table
        # unreadable.
        reader.add("emptyTableSchema")
        writer.add("emptyTableSchema")
    if marker.get("row_tracking") or _prop_on(
        marker.get("properties"), _ROWTRACK_PROP
    ):
        # writer-only: a read that ignores __row_id is still correct
        # (the column is hidden); a commit that fails to maintain it
        # would hand out duplicate ids
        writer.add("rowTracking")
    return reader, writer


def _stamp_features(payload: dict) -> None:
    """Stamp the CANONICAL feature lists onto a marker payload before it
    is written: derived from the final payload content, so a commit that
    materializes a column mapping (or drops the last constraint) sheds
    the feature instead of carrying a stale flag forever."""
    reader, writer = _required_features(payload)
    for key, feats in (("reader_features", reader), ("writer_features", writer)):
        if feats:
            payload[key] = sorted(feats)
        else:
            payload.pop(key, None)


def _feature_list(marker: dict, key: str, idx: int) -> set:
    # legacy markers (written before features were stamped) derive on
    # the fly — a pre-feature DV marker must still refuse a build with
    # DV support stripped
    listed = marker.get(key)
    return set(listed) if listed is not None else _required_features(marker)[idx]


def _check_reader(marker: dict, where: str) -> None:
    missing = _feature_list(marker, "reader_features", 0) - SUPPORTED_READER_FEATURES
    if missing:
        raise ProtocolError(
            f"{where}: table requires reader features {sorted(missing)} "
            "this engine does not support — reading anyway would return "
            "wrong rows (e.g. resurrect DV-deleted data). Upgrade the "
            "engine or REORG the table with a supporting writer."
        )


def _check_writer(marker: dict, where: str) -> None:
    missing = _feature_list(marker, "writer_features", 1) - SUPPORTED_WRITER_FEATURES
    if missing:
        raise ProtocolError(
            f"{where}: table requires writer features {sorted(missing)} "
            "this engine does not support — committing anyway would break "
            "the table's maintained invariants (change feed, constraints, "
            "identity watermarks)."
        )


def is_table(spark: SparkSession, path: str) -> bool:
    """Existence probe (DeltaTable.isDeltaTable analogue,
    01_silver_delta_upsert.py:99)."""
    recover(path)
    return _fs().exists(os.path.join(path, _MARKER))


def _fsync_dir(dirpath: str) -> None:
    """fsync a DIRECTORY: a rename/replace is atomic without this, but
    not durable — a power crash can undo an acknowledged commit. Losing
    the rename only rolls back to the old snapshot (consistency holds
    either way; ``recover`` heals), so this is the durability half of
    the contract: once a commit returns, it survives power loss.
    (Delegates to the TableFS seam — a no-op on object stores.)"""
    _fs().fsync_dir(dirpath)


def _data_files(dirpath: str) -> list[str]:
    """Data parquet files of one snapshot directory, Hive partition dirs
    included. Underscore-led dirs are sidecar metadata (``_dv``
    positions, ``_change_data`` CDC rows, exported logs), not table
    data — partition dirs are ``col=val``, never underscore-led."""
    out = []
    for root, _dirs, files in _fs().walk(dirpath):
        rel = os.path.relpath(root, dirpath)
        if rel != "." and any(p.startswith("_") for p in rel.split(os.sep)):
            continue
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _as_nullable(t):
    """Spark's ``asNullable`` on a JSON data type. A file scan serves
    every field nullable, so files that differ only in nullability
    infer the same schema."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        fields = [
            {**f, "nullable": True, "type": _as_nullable(f["type"])}
            for f in t["fields"]
        ]
        return {**t, "fields": fields}
    if t["type"] == "array":
        return {
            **t, "containsNull": True, "elementType": _as_nullable(t["elementType"])
        }
    if t["type"] == "map":
        return {
            **t,
            "valueContainsNull": True,
            "keyType": _as_nullable(t["keyType"]),
            "valueType": _as_nullable(t["valueType"]),
        }
    return t


def _footer_stats(
    files: Sequence[str], base_schema: str | None = None
) -> tuple[int, str | None]:
    """Row count of ``files`` and the schema Spark's inference serves
    for them, both from the parquet footers read in this process (no
    Spark job). A file Spark wrote carries its row schema in the footer; a
    file without one (adopted by :func:`convert_to_managed`) counts as
    ``base_schema``, the recorded schema of the snapshot it came from,
    or as unknown. Inference reads ONE file's schema, so the result is
    known only when every file agrees; otherwise it is None and readers
    infer as before."""
    import pyarrow.parquet as _pq

    n_rows, raws = 0, set()
    for f in files:
        meta = _pq.read_metadata(f)
        n_rows += meta.num_rows
        raws.add((meta.metadata or {}).get(_SPARK_ROW_SCHEMA))
    schemas = {
        base_schema if raw is None
        else StructType.fromJson(_as_nullable(json.loads(raw))).json()
        for raw in raws
    }
    return n_rows, (schemas.pop() if len(schemas) == 1 else None)


def _snapshot_stats(dirpath: str, base_schema: str | None = None) -> dict:
    """Footer/dirent-only stats of one snapshot directory: row count
    and data-file schema (``file_schema``, see :func:`_footer_stats`)
    from the parquet footers, file count and byte total from dirents.
    Called ONCE per commit on the staged snapshot (whose files the
    commit just wrote) so ``history()``/``table_detail()`` become pure
    marker reads and reads build their scan without inference — Delta
    records the same numbers in each commit's log entry
    (``operationMetrics``) and the schema in its metadata action for
    exactly this reason. :func:`_write_marker` moves ``file_schema``
    out of the stats into its own marker field."""
    files = _data_files(dirpath)
    n_rows, file_schema = _footer_stats(files, base_schema)
    return {
        "n_rows": n_rows,
        "n_files": len(files),
        "bytes": sum(_fs().getsize(f) for f in files),
        "file_schema": file_schema,
    }


def _write_marker(
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    version: int = 0,
    txn: dict | None = None,
    constraints: dict | None = None,
    generated: dict | None = None,
    identity: dict | None = None,
    unique_keys: bool = False,
    properties: dict | None = None,
    extra: dict | None = None,
) -> None:
    # torn-write hardening: write_atomic is tmp + fsync + atomic
    # replace — an OS/power crash can otherwise persist the later
    # directory rename while this marker's CONTENT is lost, leaving a
    # live snapshot whose marker is truncated garbage.
    extra = dict(extra or {})
    # commit-time snapshot stats (the dir's files were just written,
    # their footers are hot): lets DESCRIBE HISTORY / DETAIL answer
    # without listing data files. A caller that computed its own wins;
    # else the walk runs here, with a carried file_schema standing in
    # for files that hold no Spark row schema, and with the rows a
    # deletion vector hides excluded.
    stats = extra.pop("stats", None)
    if stats is None:
        stats = _snapshot_stats(path, extra.get("file_schema"))
        stats["n_rows"] -= int((extra.get("dv") or {}).get("n_rows", 0))
    stats = dict(stats)
    if "file_schema" in stats:
        extra["file_schema"] = stats.pop("file_schema")
    payload = {
        "keys": list(keys),
        "partition_by": list(partition_by),
        "version": version,
        "ts": time.time(),
        "txn": txn or {},
        "constraints": constraints or {},
        "generated": generated or {},
        "identity": identity or {},
        "unique_keys": bool(unique_keys),
        "properties": properties or {},
        "stats": stats,
    }
    # commit-specific marker fields (deletion-vector descriptor,
    # operation tag). Applied LAST — and the dv flag is NOT carried by
    # _write_marker_like, which is exactly the contract: any
    # data-rewriting commit (merge / overwrite / compaction) clears the
    # deletion vector.
    payload.update(extra)
    if not payload.get("file_schema") or not stats.get("n_files"):
        # no data files, or files that disagree: readers infer (or, for
        # an empty snapshot, serve schema_json)
        payload.pop("file_schema", None)
    _stamp_features(payload)
    _fs().write_atomic(os.path.join(path, _MARKER), json.dumps(payload))


# Which live-marker fields a commit copies VERBATIM into the marker it
# stages, by commit kind (each only when set). The table declaration —
# keys, partition_by, constraints, generated, identity, PK flag,
# properties — always carries (see _stage_marker); version and txn
# carry only for the data-preserving kinds. Rewriting commits carry
# none of these: they materialize the logical schema into fresh files
# and recompute the rest. ``file_schema`` is carried by the kinds that
# keep the live files and is then re-derived at the marker write from
# every staged footer (_write_marker), the carried value standing in
# for files that hold no Spark row schema.
_CARRIED = {
    # DV delete/update keep every data file under its physical names:
    # column metadata a rewrite would materialize must carry instead;
    # schema_json: a file-preserving commit on an empty table stays
    # empty
    "dv": (
        "column_mapping",
        "dropped_columns",
        "row_tracking",
        "added_columns",
        "schema_json",
        "file_schema",
    ),
    # blind append: appended files are fresh names, so no stored
    # position can reference them — the active vector carries verbatim
    # (the row-id high water advances; schema_json carries only while
    # the snapshot stays empty)
    "append": ("added_columns", "dv"),
    # data-preserving rewrite (compaction): the version's change-feed
    # flag (the sidecar is hardlink-carried), the row-id high water,
    # the empty-table schema, and the append-rebase watermark — a
    # racing blind append still commutes across OPTIMIZE
    "preserve": (
        "has_cdf",
        "row_tracking",
        "schema_json",
        "last_rewrite_version",
    ),
}
# a data-preserving rewrite whose files carry PHYSICALLY (binpack
# hardlinks) also carries the pending logical-schema metadata
_CARRIED["preserve_physical"] = _CARRIED["preserve"] + (
    "column_mapping",
    "dropped_columns",
    "added_columns",
    "file_schema",
)


def _stage_marker(
    staging: str,
    live: dict,
    kind: str,
    version: int,
    txn: dict | None = None,
    extra: dict | None = None,
    **declared,
) -> None:
    """Stage the marker of a commit that builds on the live snapshot:
    the live table declaration (``declared`` overrides single entries —
    an append's advanced identity high waters, its extra properties),
    the ``_CARRIED[kind]`` fields, then the commit's own ``extra``."""
    decl = {
        "partition_by": live.get("partition_by", ()),
        "constraints": live.get("constraints"),
        "generated": live.get("generated"),
        "identity": live.get("identity"),
        "unique_keys": bool(live.get("unique_keys", False)),
        "properties": live.get("properties"),
        **declared,
    }
    carried = {k: live[k] for k in _CARRIED[kind] if live.get(k)}
    _write_marker(
        staging,
        live.get("keys", ()),
        version=version,
        txn=txn,
        extra={**carried, **(extra or {})} or None,
        **decl,
    )


def _write_marker_like(
    staging: str,
    live_marker: dict,
    partition_by: Sequence[str] | None = None,
    carry_schema_metadata: bool = False,
    schema_json_fallback: str | None = None,
) -> None:
    """Marker for a DATA-PRESERVING rewrite (compaction): carry every
    piece of table metadata forward — version, ``txn`` (exactly-once
    sinks read ``last_epoch`` from it: resetting it would replay
    epochs), constraints, generated/identity declarations, the PK flag.
    Only ts and the snapshot stats are new. Delta's OPTIMIZE likewise
    rewrites files without touching the table's logical metadata.

    ``carry_schema_metadata``: rewrites that carry data files
    PHYSICALLY (binpack hardlinks) must also carry the pending logical-
    schema metadata — ``column_mapping`` / ``dropped_columns`` /
    ``added_columns`` — or a rename silently un-renames, dropped
    payloads resurrect, and a declared ADD COLUMN vanishes (review
    r12). Rewrites that MATERIALIZE the logical schema (full compact
    reads ``_read_logical`` first) leave it False: their new files
    already carry logical names, so the metadata is spent."""
    kind = "preserve_physical" if carry_schema_metadata else "preserve"
    extra = {}
    if (
        not live_marker.get("schema_json")
        and schema_json_fallback
        and not _data_files(staging)
    ):
        # round-13 soak find: a compaction of a 0-row table whose
        # snapshot still held empty-FOOTER files (the unpartitioned
        # delete-all shape) can emit ZERO files (partitioned writes of
        # nothing write nothing) — without schema-in-log the swap
        # strands the table unreadable (UNABLE_TO_INFER_SCHEMA). The
        # caller passes the pre-rewrite schema; it is recorded exactly
        # as a zero-file commit_overwrite would record it.
        extra["schema_json"] = schema_json_fallback
    _stage_marker(
        staging,
        live_marker,
        kind,
        version=int(live_marker.get("version", 0)),
        txn=live_marker.get("txn"),
        extra=extra,
        partition_by=live_marker.get("partition_by", ())
        if partition_by is None
        else list(partition_by),
    )


def _read_marker(path: str) -> dict:
    marker = os.path.join(path, _MARKER)
    if not _fs().exists(marker):
        return {}
    return json.loads(_fs().read_text(marker))


def _history_dir(path: str) -> str:
    return f"{path}__history"


def table_version(path: str) -> int:
    """Current (live) version number; 0 for a fresh initial load."""
    return int(_read_marker(path).get("version", 0))


def table_txn(path: str) -> dict:
    """Application transaction metadata committed ATOMICALLY with the
    live snapshot (the Delta ``txnAppId``/``txnVersion`` analogue): the
    dict passed as ``txn=`` to the write that produced the current
    version. Because the marker lives INSIDE the snapshot directory and
    the swap is a single ``os.rename``, a reader can never observe new
    data with an old txn or vice versa — the property exactly-once
    streaming sinks rely on."""
    recover(path)
    return _read_marker(path).get("txn", {})


def table_constraints(path: str) -> dict:
    """Active CHECK constraints: {name: sql_expr}."""
    recover(path)
    return _read_marker(path).get("constraints", {})


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> None:
    """Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK (expr)`` analogue.
    Existing rows are validated first (the whole point of a CHECK is
    that it HOLDS — Delta refuses the ALTER otherwise too); thereafter
    every commit (merge/delete/update/overwrite) validates its staged
    snapshot before the swap. NULL evaluations pass (SQL semantics).
    Metadata-only change: the live marker is atomically replaced."""
    violating = read(spark, path).filter(
        F.expr(expr).eqNullSafe(F.lit(False))
    )
    if not violating.isEmpty():
        raise ConstraintViolationError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing rows "
            "violate it"
        )
    marker = _read_marker(path)
    marker.setdefault("constraints", {})[name] = expr
    _replace_marker(path, marker)


def drop_constraint(path: str, name: str) -> None:
    """Remove a CHECK constraint (no-op if absent)."""
    marker = _read_marker(path)
    marker.get("constraints", {}).pop(name, None)
    _replace_marker(path, marker)


def table_properties(path: str) -> dict:
    """Table properties ({name: value} — the Delta ``TBLPROPERTIES``
    analogue); persisted in the marker and carried by every commit."""
    recover(path)
    return _read_marker(path).get("properties", {})


def set_table_property(path: str, name: str, value) -> None:
    """``ALTER TABLE ... SET TBLPROPERTIES (name = value)`` analogue —
    metadata-only atomic marker replace. ``enableChangeDataFeed``
    (Delta: ``delta.enableChangeDataFeed``) turns on change-data-feed
    recording for every LATER DML commit (earlier versions have no
    sidecar — exactly Delta's behavior, where enabling CDF does not
    backfill). Refused on tables with identity columns: identity fill
    values are assigned inside the data commit and cannot be
    reproduced for a separate change frame."""
    marker = _live_marker(path)
    if _prop_on({name: value}, _CDF_PROP) and marker.get("identity"):
        raise ValueError(
            "enableChangeDataFeed is unsupported on tables with identity "
            "columns: identity slot fills happen inside the data commit "
            "and cannot be replayed into the change sidecar"
        )
    marker.setdefault("properties", {})[name] = value
    _replace_marker(path, marker)


def _prop_on(props: dict | None, name: str) -> bool:
    """Whether a boolean table property is on. SQL TBLPROPERTIES values
    can arrive as strings, so a string is on only when it reads
    ``true`` (``'false'`` is off); any other value keeps its truth."""
    value = (props or {}).get(name)
    return value.strip().lower() == "true" if isinstance(value, str) else bool(value)


def _cdf_on(marker: dict) -> bool:
    return _prop_on(marker.get("properties"), _CDF_PROP)


def _write_cdf(spark_changes: DataFrame, staging: str) -> None:
    """Persist the commit's change rows (data columns + _change_type)
    as the staged snapshot's ``_change_data`` sidecar — published by
    the same marker-last rename as the data, so readers can never see
    a version without its change record. Internal bookkeeping columns
    (row-tracking ids) are stripped here, centrally — every CDF write
    funnels through this function, and the feed's schema is the
    table's LOGICAL schema + _change_type."""
    spark_changes.drop(_ROWID_COL).write.mode("overwrite").parquet(
        os.path.join(staging, _CDF_DIR)
    )


def _replace_marker(path: str, marker: dict) -> None:
    _stamp_features(marker)
    _fs().write_atomic(os.path.join(path, _MARKER), json.dumps(marker))


def _marker_valid(dirpath: str) -> bool:
    """True iff the marker file exists AND parses as JSON — a staging
    dir with a torn/truncated marker is NOT committed-ready and must
    not be rolled forward (it would make every later read throw)."""
    marker = os.path.join(dirpath, _MARKER)
    if not _fs().exists(marker):
        return False
    try:
        json.loads(_fs().read_text(marker))
        return True
    except (json.JSONDecodeError, OSError):
        return False


def recover(path: str) -> None:
    """Crash recovery for the stage-and-swap window. The commit protocol
    is: (1) write the full snapshot + marker into ``<path>__staging_T``,
    (2) ``rename(path, <path>__old_T)``, (3) ``rename(staging, path)``,
    (4) retire the backup. A crash between (2) and (3) leaves no live
    directory; this routine restores exactly one consistent snapshot:

    - a staging dir with a VALID (parseable) marker is committed-ready
      (the marker is the last file staged, fsync'd) -> roll FORWARD:
      it becomes the live table;
    - otherwise (no staging, or its marker is torn) a backup dir rolls
      BACK to the pre-commit snapshot — a torn marker means the commit
      never durably completed.

    Either way the table serves exactly the old or the new version,
    never a mix, and never disappears. No-op when the live marker
    exists (healthy) — leftover staging/backup dirs from crashes after
    (3) are inert and swept by ``maintenance.vacuum``. Single-writer,
    like the rest of the emulation."""
    if _fs().exists(os.path.join(path, _MARKER)) or _fs().exists(path):
        return
    ready = sorted(
        s for s in _fs().glob(path + "__staging_*") if _marker_valid(s)
    )
    if ready:
        _fs().rename_dir(ready[-1], path)
        return
    backups = sorted(_fs().glob(path + "__old_*"))
    if backups:
        _fs().rename_dir(backups[-1], path)


def _live_marker(path: str) -> dict:
    """The live marker, after crash recovery; refuses a non-table."""
    recover(path)
    marker = _read_marker(path)
    if not marker:
        raise ValueError(f"{path} is not a managed table")
    return marker


def list_versions(path: str) -> list[int]:
    """Readable versions: retained history snapshots + the live one.
    Only exact ``v{N}`` names count — a maintenance staging/backup dir
    that happens to start with 'v' must never crash (or pollute) the
    version listing."""
    hist = _history_dir(path)
    out = []
    if _fs().isdir(hist):
        out = sorted(
            int(d[1:])
            for d in _fs().listdir(hist)
            if d.startswith("v") and d[1:].isdigit()
        )
    return out + [table_version(path)]


def _apply_column_mapping(df: DataFrame, marker: dict) -> DataFrame:
    """Serve the LOGICAL schema: hide dropped physical columns, rename
    physical names to their logical aliases, and synthesize pending
    ADD COLUMNs (their declared default for every pre-ALTER row — those
    rows' files simply lack the column, so there is no NULL/missing
    ambiguity). Applies to live reads only — the metadata is newer than
    every retained snapshot, and the next commit materializes it (see
    ``rename_column`` / ``add_column``)."""
    dropped = marker.get("dropped_columns", [])
    mapping = marker.get("column_mapping", {})
    if dropped:
        df = df.drop(*[c for c in dropped if c in df.columns])
    if mapping:
        df = df.withColumnsRenamed(
            {phys: log for log, phys in mapping.items() if phys in df.columns}
        )
    for name, spec in marker.get("added_columns", {}).items():
        if name not in df.columns:
            df = df.withColumn(
                name, F.lit(spec.get("default")).cast(spec["type"])
            )
    return df


def _dv_rel_file(snap: str):
    """Snapshot-RELATIVE data-file path of each scanned row, from the
    ``_metadata`` hidden columns. Relative (not basename: with
    ``partitionBy`` one write task emits same-named part files into
    several partition dirs, so basenames collide; not absolute: the
    snapshot dir is renamed by every swap and again when it retires
    into ``__history``, which would orphan stored positions)."""
    prefix = os.path.abspath(snap) + "/"
    return F.substring_index(F.col("_metadata.file_path"), prefix, -1)


def _sidecar_files(snap: str, sidecar: str) -> list[str]:
    """The parquet files of one snapshot sidecar (``_dv``,
    ``_change_data``). Sidecars are scanned by this file list, never by
    their directory: Spark's hidden-path rule marks an ``_``-led
    directory ignorable ("All paths were ignored") and reads it only
    because it was named explicitly."""
    return sorted(
        f
        for f in _fs().glob(os.path.join(snap, sidecar, "*.parquet"))
        if _fs().isfile(f)
    )


def _dv_scan(spark: SparkSession, snap: str) -> DataFrame:
    """The (file, row index) positions of ``snap``'s deletion vector —
    called only when the marker records one. A vector with no files
    refuses: serving the rows it hides would resurrect deleted data."""
    files = _sidecar_files(snap, _DV_DIR)
    if not files:
        raise ValueError(
            f"{snap}: the marker records a deletion vector but its "
            f"{_DV_DIR} sidecar holds no files — reading would resurrect "
            "deleted rows"
        )
    return spark.read.schema(_DV_SCHEMA).parquet(*files)


def _apply_dv(spark: SparkSession, df: DataFrame, snap: str, marker: dict) -> DataFrame:
    """Filter out rows the snapshot's deletion vector marks deleted.

    ``df`` must be the RAW file-source DataFrame of ``snap`` (the
    ``_metadata`` hidden column resolves against the scan). The DV is a
    tiny (relative file path, row index) parquet dataset — broadcast-
    anti-joined when small (``dv.n_rows`` is recorded in the marker at
    commit time, so the choice costs no job), hash-anti-joined when a
    mass delete made it large. Delta reads DVs the same way: positions
    applied at scan, data files untouched."""
    dv_meta = marker.get("dv")
    if not dv_meta:
        return df
    dv = _dv_scan(spark, snap)
    tagged = df.select(
        "*",
        _dv_rel_file(snap).alias(_DV_FILE_COL),
        F.col("_metadata.row_index").alias(_DV_IDX_COL),
    )
    if int(dv_meta.get("n_rows", 0)) <= 4_000_000:
        dv = F.broadcast(dv)
    return tagged.join(dv, [_DV_FILE_COL, _DV_IDX_COL], "left_anti").drop(
        _DV_FILE_COL, _DV_IDX_COL
    )


def _recorded_schema(marker: dict) -> str | None:
    """The schema a scan of the marker's snapshot is built with: the
    data-file schema (``file_schema``; partition columns then come from
    the directory names, typed as inference types them), or for a
    zero-file snapshot the full schema-in-log (``schema_json``). None —
    infer — for markers written before ``file_schema`` existed and for
    snapshots whose files disagree."""
    if marker.get("file_schema"):
        return marker["file_schema"]
    n_files = (marker.get("stats") or {}).get("n_files")
    if marker.get("schema_json") and not n_files:
        return marker["schema_json"]
    return None


def _scan(reader, schema_json: str | None, *paths: str) -> DataFrame:
    """Parquet scan of ``paths`` — with ``schema_json`` given no Spark
    job runs to build it; without, Spark infers the schema."""
    if schema_json:
        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    return reader.parquet(*paths)


def _read_physical(spark: SparkSession, snap: str) -> DataFrame:
    """One snapshot directory as a DataFrame under its PHYSICAL column
    names, with its deletion vector (if any) applied — the single entry
    point every snapshot read (live, versioned, history-rewrite) goes
    through so deleted rows can never resurface from a raw scan — and
    where the reader half of the protocol-features contract is enforced
    (an unknown reader feature refuses loudly instead of misreading).
    The scan uses the schema the commit recorded in the marker
    (:func:`_recorded_schema`), so building it runs no Spark job."""
    marker = _read_marker(snap)
    _check_reader(marker, snap)
    raw = _scan(spark.read, _recorded_schema(marker), snap)
    return _apply_dv(spark, raw, snap, marker)


def _refuse_if_referenced(marker: dict, col: str, action: str) -> None:
    """Loudly reject schema changes to columns that CHECK constraints,
    generated-column expressions, or identity declarations depend on —
    a silent rename under an expression string would corrupt every
    later commit."""
    import re as _re

    for name, expr in marker.get("constraints", {}).items():
        if _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"cannot {action} {col!r}: CHECK constraint {name!r} "
                f"references it ({expr}) — drop the constraint first"
            )
    for name, expr in marker.get("generated", {}).items():
        if name == col or _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"cannot {action} {col!r}: generated column {name!r} "
                f"defines or references it"
            )
    if col in marker.get("identity", {}):
        raise ValueError(f"cannot {action} {col!r}: it is an identity column")


def rename_column(spark: SparkSession, path: str, old: str, new: str) -> None:
    """Metadata-only column RENAME (the Delta column-mapping analogue):
    one atomic marker replace, zero data files touched — reads serve
    the new name immediately. Because every commit here is a full
    snapshot, the NEXT commit writes the logical schema physically and
    clears the mapping; the mapping's job is exactly the window between
    the rename and that commit (Delta keeps its mapping forever because
    its commits are file-incremental — same contract, different
    materialization point).

    Table keys and partition columns rename along. Columns referenced
    by CHECK constraints, generated columns, or identity declarations
    refuse to rename (the expression strings would silently go stale).
    Historical snapshots keep their as-written schema."""
    marker = _live_marker(path)
    logical = set(read(spark, path).columns)
    if old not in logical:
        raise ValueError(f"rename_column: no column {old!r} (have {sorted(logical)})")
    if new in logical:
        raise ValueError(f"rename_column: {new!r} already exists")
    _refuse_if_referenced(marker, old, "rename")
    added = marker.get("added_columns", {})
    if old in added:  # a pending ADD COLUMN has no physical name yet —
        # renaming it just moves the declaration
        added[new] = added.pop(old)
        marker["keys"] = [new if k == old else k for k in marker.get("keys", [])]
        _replace_marker(path, marker)
        return
    mapping = dict(marker.get("column_mapping", {}))
    phys = mapping.pop(old, old)  # renaming an alias reuses its physical
    mapping[new] = phys
    marker["column_mapping"] = mapping
    marker["keys"] = [new if k == old else k for k in marker.get("keys", [])]
    marker["partition_by"] = [
        new if c == old else c for c in marker.get("partition_by", [])
    ]
    _replace_marker(path, marker)
    _invalidate_sql_views(
        spark, path, "RENAME COLUMN enabled column mapping on this table"
    )


def add_column(
    spark: SparkSession, path: str, name: str, dtype: str, default=None
) -> None:
    """Metadata-only ``ALTER TABLE ADD COLUMN name type [DEFAULT v]``
    (exactly Delta's behavior: adding a column rewrites nothing).
    Every pre-ALTER row reads the default (their files simply lack the
    column — no NULL/missing ambiguity, the reason Delta's
    ``exists_default`` is sound); the next rewriting commit
    materializes the column physically and sheds the declaration.
    ``default`` must be a JSON-storable literal (it lives in the
    marker); None declares a nullable column with no default."""
    marker = _live_marker(path)
    logical = set(read(spark, path).columns)
    if name in logical:
        raise ValueError(f"add_column: {name!r} already exists")
    json.dumps(default)  # fail fast on non-storable defaults
    # validate the type string AND that the default casts to it NOW —
    # a bad declaration must fail the ALTER, not every later read
    try:
        probe = spark.range(1).select(F.lit(default).cast(dtype)).schema
    except Exception as exc:
        raise ValueError(
            f"add_column: invalid type {dtype!r} or incompatible default "
            f"{default!r}: {exc}"
        ) from None
    del probe
    marker.setdefault("added_columns", {})[name] = {
        "type": dtype,
        "default": default,
    }
    _replace_marker(path, marker)
    _invalidate_sql_views(
        spark, path, "ADD COLUMN declared a pending column on this table"
    )


def drop_column(spark: SparkSession, path: str, col: str) -> None:
    """Metadata-only column DROP: the physical data stays in place
    (exactly Delta's drop-column), reads hide it immediately, and the
    next full-snapshot commit physically removes it. Key, partition,
    constraint-referenced, generated, and identity columns refuse."""
    marker = _live_marker(path)
    logical = set(read(spark, path).columns)
    if col not in logical:
        raise ValueError(f"drop_column: no column {col!r} (have {sorted(logical)})")
    if col in marker.get("keys", []) or col in marker.get("partition_by", []):
        raise ValueError(f"cannot drop {col!r}: it is a key/partition column")
    _refuse_if_referenced(marker, col, "drop")
    if col in marker.get("added_columns", {}):
        # dropping a never-materialized ADD COLUMN erases the declaration
        del marker["added_columns"][col]
        _replace_marker(path, marker)
        return
    mapping = dict(marker.get("column_mapping", {}))
    phys = mapping.pop(col, col)
    marker["column_mapping"] = mapping
    marker["dropped_columns"] = sorted(
        set(marker.get("dropped_columns", [])) | {phys}
    )
    _replace_marker(path, marker)
    _invalidate_sql_views(
        spark, path, "DROP COLUMN enabled column mapping on this table"
    )


def _read_logical(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Logical read WITH internal bookkeeping columns (``__row_id``)
    still attached — the entry point for DML/maintenance paths that
    must carry row-tracking ids through a rewrite. User reads go
    through :func:`read`, which hides or renames them."""
    if version is None:
        recover(path)
        return _apply_column_mapping(
            _read_physical(spark, path), _read_marker(path)
        )
    if version == table_version(path):
        return _read_physical(spark, path)
    snap = os.path.join(_history_dir(path), f"v{version:06d}")
    if not _fs().isdir(snap):
        raise ValueError(
            f"version {version} of {path} is not retained "
            f"(available: {list_versions(path)}) — pruned by max_history "
            "or vacuum"
        )
    return _read_physical(spark, snap)


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Read the live table, or a retained historical snapshot via
    ``version=N`` (time-travel-lite: each MERGE keeps the replaced
    snapshot as version N-1 under ``<path>__history/``, bounded by
    ``merge_upsert(max_history=...)``; ``maintenance.vacuum`` prunes).

    ``with_row_ids=True`` on a row-tracking table (``enableRowTracking``
    property) exposes the stable row id as ``_row_id`` — Delta's
    ``_metadata.row_id`` analogue. Rows materialized before tracking
    was enabled read NULL until the next rewriting commit assigns
    them ids."""
    df = _read_logical(spark, path, version)
    has_ids = _ROWID_COL in df.columns
    if not with_row_ids:
        return df.drop(_ROWID_COL) if has_ids else df
    if has_ids:
        return df.withColumnRenamed(_ROWID_COL, _ROWID_PUBLIC)
    if _prop_on(_read_marker(path).get("properties"), _ROWTRACK_PROP):
        # enabled but not yet materialized by a commit
        return df.withColumn(_ROWID_PUBLIC, F.lit(None).cast("bigint"))
    raise ValueError(
        f"{path}: with_row_ids requires the {_ROWTRACK_PROP} table "
        "property (set_table_property) — ids are assigned by commits, "
        "not synthesized at read time"
    )


def version_as_of(path: str, ts: float) -> int:
    """The newest retained VERSION whose commit time is <= ``ts`` (a
    unix timestamp; each snapshot's marker records its commit ``ts``
    atomically with the data). Raises if every retained snapshot is
    newer — same contract as Delta's 'timestamp before earliest
    version' error. Driver-side marker reads only."""
    recover(path)
    live = table_version(path)
    candidates = []  # (commit_ts, version)
    for v in list_versions(path):
        snap = path if v == live else os.path.join(
            _history_dir(path), f"v{v:06d}"
        )
        marker = _read_marker(snap)
        if marker:
            candidates.append((float(marker.get("ts", 0.0)), v))
    eligible = [(t, v) for t, v in candidates if t <= ts]
    if not eligible:
        raise ValueError(
            f"{path}: no retained snapshot at or before timestamp {ts} "
            f"(earliest retained commit: {min(candidates)[0] if candidates else None})"
        )
    return max(eligible)[1]


def version_at_or_after(path: str, ts: float) -> int:
    """The OLDEST retained version whose commit time is >= ``ts`` —
    the mapping Delta's CDF ``startingTimestamp`` uses (changes from
    the first commit at-or-after the instant). Raises when every
    retained commit is older (same contract as Delta's 'timestamp
    after latest commit' error); a ``ts`` before the earliest retained
    commit resolves to the earliest retained version. Driver-side
    marker reads only."""
    recover(path)
    live = table_version(path)
    candidates = []  # (commit_ts, version)
    for v in list_versions(path):
        snap = path if v == live else os.path.join(
            _history_dir(path), f"v{v:06d}"
        )
        marker = _read_marker(snap)
        if marker:
            candidates.append((float(marker.get("ts", 0.0)), v))
    eligible = [(t, v) for t, v in candidates if t >= ts]
    if not eligible:
        raise ValueError(
            f"{path}: no retained commit at or after timestamp {ts} "
            f"(latest retained commit: {max(candidates)[0] if candidates else None})"
        )
    return min(eligible)[1]


def read_as_of(
    spark: SparkSession, path: str, ts: float, with_row_ids: bool = False
) -> DataFrame:
    """Delta ``TIMESTAMP AS OF`` time travel: read the newest retained
    snapshot whose commit time is <= ``ts`` (:func:`version_as_of`)."""
    return read(
        spark, path, version=version_as_of(path, ts),
        with_row_ids=with_row_ids,
    )


def history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY analogue (Delta: table-commit log; here: the
    retained snapshot markers). One row per readable version:
    ``(version, ts, operation, n_rows, is_live)`` — ``operation`` is
    ``initial`` for v0 and ``merge`` after, mirroring the two write
    paths. Row counts come from the ``stats`` each commit recorded in
    its marker (Delta: ``operationMetrics`` in the commit log), so the
    call is O(versions) marker reads — zero data-file listing, zero
    footer I/O, zero Spark jobs. Markers written before stats existed
    fall back to a one-off footer sum for that version only."""
    rows = []
    live = table_version(path)
    for v in list_versions(path):
        snap = path if v == live else os.path.join(
            _history_dir(path), f"v{v:06d}"
        )
        marker = _read_marker(snap)
        stats = marker.get("stats") or _snapshot_stats(snap)
        n = int(stats["n_rows"])
        rows.append(
            (
                v,
                float(marker.get("ts", 0.0)),
                marker.get("operation")
                or ("initial" if v == 0 else "merge"),
                n,
                v == live,
            )
        )
    return spark.createDataFrame(
        rows, "version int, ts double, operation string, n_rows long, is_live boolean"
    )


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    keys: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-feed-lite (Delta CDF analogue): the row-level diff
    between two retained versions, tagged ``_change_type`` in
    {insert, delete, update_postimage, update_preimage}.

    Computed as two bag-subtracts between snapshots (rows identical in
    both versions cancel), then classified by key presence on the other
    side when ``keys`` is given (a changed row whose key exists in both
    versions is an update pre/post image; otherwise insert/delete).
    Without ``keys`` every diff row reports insert/delete only.

    Scale: subtract is one hash shuffle per side on full rows; the
    classifier is a semi-join on the keys. CDC consumers read the diff,
    never rescan the table."""
    to_version = table_version(path) if to_version is None else to_version
    old = read(spark, path, version=from_version)
    new = read(spark, path, version=to_version)
    added = new.subtract(old)
    removed = old.subtract(new)
    if not keys:
        return added.withColumn("_change_type", F.lit("insert")).unionByName(
            removed.withColumn("_change_type", F.lit("delete"))
        )
    key_cols = list(keys)
    removed_keys = removed.select(*key_cols)
    added_keys = added.select(*key_cols)
    post = added.join(removed_keys, on=key_cols, how="left_semi").withColumn(
        "_change_type", F.lit("update_postimage")
    )
    ins = added.join(removed_keys, on=key_cols, how="left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    pre = removed.join(added_keys, on=key_cols, how="left_semi").withColumn(
        "_change_type", F.lit("update_preimage")
    )
    dele = removed.join(added_keys, on=key_cols, how="left_anti").withColumn(
        "_change_type", F.lit("delete")
    )
    return post.unionByName(ins).unionByName(pre).unionByName(dele)


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed reader (Delta's ``table_changes`` TVF): the
    row-level changes committed in versions ``(from_version,
    to_version]``, read from the ``_change_data`` sidecars the DML
    commits recorded — O(changes) I/O, never an O(table) snapshot diff
    (that fallback is :func:`read_changes`). Requires the table
    property ``enableChangeDataFeed`` to have been on for every
    version in range; a version without a recorded sidecar (committed
    before enablement, or by a generic overwrite whose diff nobody
    computed) raises instead of silently serving a hole — the same
    contract as Delta, which errors on CDF reads across non-CDF
    versions.

    Output: the change rows plus ``_change_type``,
    ``_commit_version``, ``_commit_timestamp`` (Delta's CDF columns).
    Versions must still be retained (``max_history`` /  vacuum prune
    sidecars together with their snapshots).

    ``from_version=-1`` includes the CREATION commit: version 0 (a
    ``commit_overwrite`` initial load, which records no sidecar) is
    served as its full retained snapshot tagged ``insert`` when the
    table was CDF-enabled at creation — Delta likewise reconstructs a
    pure-add commit's changes from its add files rather than from CDC
    files. The SQL TVF uses this to give Delta's INCLUSIVE start-bound
    semantics over this function's exclusive ``from``."""
    recover(path)
    live = table_version(path)
    to_version = live if to_version is None else to_version
    if from_version >= to_version:
        raise ValueError(
            f"table_changes: empty range ({from_version}, {to_version}]"
        )
    parts = []
    for v in range(from_version + 1, to_version + 1):
        snap = path if v == live else os.path.join(
            _history_dir(path), f"v{v:06d}"
        )
        marker = _read_marker(snap)
        if not marker:
            raise ValueError(
                f"version {v} of {path} is not retained "
                f"(available: {list_versions(path)})"
            )
        if v == 0 and not marker.get("has_cdf"):
            if not _prop_on(marker.get("properties"), _CDF_PROP):
                raise ValueError(
                    f"version 0 of {path} was created without "
                    "enableChangeDataFeed — its rows cannot be served "
                    "as changes (use read_changes() for a snapshot diff)"
                )
            parts.append(
                read(spark, path, version=0)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(0).cast("int"))
                .withColumn(
                    "_commit_timestamp",
                    F.lit(float(marker.get("ts", 0.0))),
                )
            )
            continue
        if not marker.get("has_cdf"):
            raise ValueError(
                f"version {v} of {path} has no change-data sidecar "
                "(committed before enableChangeDataFeed, or by a "
                "generic overwrite) — use read_changes() for a "
                "snapshot-diff of that range"
            )
        # scanned with the schema its own footers record (no Spark
        # job); inferred only when the files disagree
        files = _sidecar_files(snap, _CDF_DIR)
        if not files:
            raise ValueError(
                f"version {v} of {path}: its {_CDF_DIR} sidecar holds no "
                "files — the change record is lost (use read_changes() "
                "for a snapshot-diff of that range)"
            )
        parts.append(
            _scan(spark.read, _footer_stats(files)[1], *files)
            .withColumn("_commit_version", F.lit(v).cast("int"))
            .withColumn(
                "_commit_timestamp",
                F.lit(float(marker.get("ts", 0.0))),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: Sequence[str],
    sequence_col: str,
    max_history: int = 2,
    txn: dict | None = None,
    expected_version: int | None = None,
) -> None:
    """CDC apply — the Delta Live Tables ``APPLY CHANGES INTO``
    primitive: merge a change feed of ``insert`` / ``update_postimage``
    / ``delete`` rows (``update_preimage`` ignored) into the target,

    (Note: this commit records NO change-data sidecar of its own even
    on a CDF-enabled target — the NET effect differs from the input
    feed under idempotent-skip, and chaining CDF off a CDC replica
    re-reads the UPSTREAM feed anyway; ``table_changes`` refuses such
    versions with a pointer at the ``read_changes`` snapshot diff.)
    ordered by ``sequence_col`` so LATE-ARRIVING and OUT-OF-ORDER
    changes resolve correctly:

    - within the batch, only each key's highest-sequence change applies;
    - across batches, the applied sequence persists per row in
      ``_apply_seq`` — a change older than what the target already
      reflects is a no-op, so replaying or reordering feed chunks
      converges to the same table (idempotent, order-insensitive);
    - at equal sequence an upsert beats a delete (ties should not
      happen with a proper sequencing column; the rule just makes them
      deterministic).

    One full-outer join on the keys + one commit; the commit inherits
    every managed-table guarantee (crash-atomic swap, constraints,
    generated/identity columns, PRIMARY KEY check, history).

    Pairs with :func:`read_changes` for table replication: feeding a
    CDF diff through ``apply_changes`` reproduces the source snapshot
    (``tests/test_dml.py``)."""
    key_list = list(keys)
    seq_type = dict(changes.dtypes)[sequence_col]
    target_exists = _fs().exists(os.path.join(path, _MARKER))
    if target_exists:
        # a CDC apply updates and deletes by definition
        _check_append_only(_read_marker(path), "APPLY CHANGES")
    if target_exists:
        target = read(spark, path)
        # a feed that predates an ADD COLUMN supplies the declared
        # default for it (same contract as merge_upsert sources)
        for c, spec in sorted(
            _read_marker(path).get("added_columns", {}).items()
        ):
            if c not in changes.columns:
                changes = changes.withColumn(
                    c, F.lit(spec.get("default")).cast(spec["type"])
                )
    else:
        # bootstrap: an absent target is an empty table with the feed's
        # payload schema — the first feed chunk creates it
        target = changes.drop("_change_type", sequence_col).filter(F.lit(False))
    if "_apply_seq" not in target.columns:
        target = target.withColumn(
            "_apply_seq", F.lit(None).cast(seq_type)
        )
    val_cols = [
        c for c in target.columns if c not in key_list and c != "_apply_seq"
    ]

    from pyspark.sql import Window

    live = changes.filter(F.col("_change_type") != "update_preimage")
    w = Window.partitionBy(*key_list).orderBy(
        F.desc(sequence_col),
        # upsert beats delete at equal sequence; types sort descending
        F.desc(F.col("_change_type") != "delete"),
    )
    latest = (
        live.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    c_p = latest.select(
        *key_list,
        F.struct(*val_cols).alias("__c"),
        F.col(sequence_col).cast(seq_type).alias("__cseq"),
        F.col("_change_type").alias("__ct"),
    )
    t_p = target.select(
        *key_list,
        F.struct(*val_cols).alias("__t"),
        F.col("_apply_seq").alias("__tseq"),
    )
    j = t_p.join(c_p, on=key_list, how="full_outer")
    # a change applies when the target has no row for the key, has no
    # recorded sequence, or the change is strictly newer
    applies = F.col("__ct").isNotNull() & (
        F.col("__t").isNull()
        | F.col("__tseq").isNull()
        | (F.col("__cseq") > F.col("__tseq"))
    )
    merged = (
        j.withColumn("__use_c", applies)
        .filter(  # applied deletes drop; keys only ever seen as a
            # stale delete contribute nothing either
            ~(F.col("__use_c") & (F.col("__ct") == "delete"))
            & ~(F.col("__t").isNull() & ~F.col("__use_c"))
        )
        .select(
            *key_list,
            *[
                F.when(F.col("__use_c"), F.col("__c")[c])
                .otherwise(F.col("__t")[c])
                .alias(c)
                for c in val_cols
            ],
            F.when(F.col("__use_c"), F.col("__cseq"))
            .otherwise(F.col("__tseq"))
            .alias("_apply_seq"),
        )
    )
    if target_exists and (
        _read_marker(path).get("properties") or {}
    ).get(_ROWTRACK_PROP):
        tracked = _read_logical(spark, path)
        if _ROWID_COL in tracked.columns:
            # row tracking: surviving keys keep their stable id (the
            # struct-based merge above works on the logical payload, so
            # ids re-attach by key — unique per row by construction);
            # inserted keys join NULL and the commit fills fresh ids
            merged = merged.join(
                tracked.select(*key_list, _ROWID_COL),
                on=key_list,
                how="left",
            )
    commit_overwrite(
        merged, path, keys=key_list, max_history=max_history, txn=txn,
        expected_version=expected_version,
        # the first apply WIDENS the table with the _apply_seq
        # idempotency column — apply_changes owns the target's schema
        schema_mode="overwrite",
    )


def initial_write(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    keys: Sequence[str] = (),
) -> None:
    """First-time load: overwrite, partitioned (S3-sink shape,
    01_silver_delta_upsert.py:115-121). Emulation routes through the
    stage-and-swap commit, so even the initial load is atomic — a crash
    mid-write leaves an inert staging dir, never a half-table."""
    commit_overwrite(
        df, path, keys=keys, partition_by=partition_by, max_history=0
    )


_DISTINCT_KEYS_CONF = "spark.sql.optimizer.propagateDistinctKeys.enabled"


def _key_unique(df: DataFrame, keys: Sequence[str]) -> bool:
    """True when Catalyst PROVES ``df`` holds at most one row per
    ``keys`` tuple, so a MERGE's multiple-source-match probe could not
    fire: the optimized plan has ``maxRows() <= 1``, or one of its
    ``distinctKeys()`` sets consists only of the output attributes
    named by ``keys`` (case-insensitively unless
    ``spark.sql.caseSensitive``). A set holding any other column or a
    non-attribute expression proves nothing, and neither does a key
    that names no output column or more than one. With empty ``keys``
    only a plan of at most one row proves. False — probe — whenever
    the session turns off ``propagateDistinctKeys``."""
    conf = df.sparkSession.conf
    if conf.get(_DISTINCT_KEYS_CONF, "true").lower() != "true":
        return False
    plan = df._jdf.queryExecution().optimizedPlan()
    max_rows = plan.maxRows()
    if max_rows.isDefined() and max_rows.get() <= 1:
        return True
    sensitive = conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    fold = (lambda n: n) if sensitive else str.lower
    out = plan.output()
    attrs = [out.apply(i) for i in range(out.size())]
    key_attrs = []
    for k in keys:
        named = [a for a in attrs if fold(a.name()) == fold(k)]
        if len(named) != 1:
            return False  # the probe reports the unresolved/ambiguous key
        key_attrs.append(named[0])
    sets = plan.distinctKeys().iterator()
    while sets.hasNext():
        exprs = sets.next().iterator()
        proven = True
        while proven and exprs.hasNext():
            e = exprs.next()
            proven = any(e.semanticEquals(a) for a in key_attrs)
        if proven:
            return True
    return False


def merge_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
    broadcast_source: bool = False,
    schema_evolution: bool = False,
    max_history: int = 2,
    txn: dict | None = None,
    not_matched_by_source: str = "keep",
) -> None:
    """See :func:`_merge_upsert_impl` for the MERGE semantics. This
    wrapper adds Delta's automatic commit retry: a version-CAS loss to
    a concurrent commit re-executes the whole merge against the new
    snapshot (WriteSerializable — the retried merge sees the winner's
    rows), bounded by :func:`_retry_dml`."""
    return _retry_dml(
        lambda: _merge_upsert_impl(
            spark, path, source, keys, partition_by, broadcast_source,
            schema_evolution, max_history, txn,
            not_matched_by_source,
        ),
        path,
    )


def _merge_upsert_impl(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
    broadcast_source: bool = False,
    schema_evolution: bool = False,
    max_history: int = 2,
    txn: dict | None = None,
    not_matched_by_source: str = "keep",
) -> None:
    """UPSERT keyed on ``keys`` — whenMatchedUpdateAll +
    whenNotMatchedInsertAll (01_silver_delta_upsert.py:103-112).
    ``not_matched_by_source="delete"`` adds Delta's
    ``whenNotMatchedBySourceDelete`` clause: target rows whose key the
    source does not carry are REMOVED, making the merge a full sync of
    the target to the source key-set (dimension snapshot replication).
    Default ``"keep"`` is the classic upsert.
    ``txn`` metadata commits atomically with the merged snapshot
    (see :func:`commit_overwrite` / :func:`table_txn`) — the
    Delta ``txnAppId``/``txnVersion`` idempotent-writer analogue.

    The documented Delta MERGE contract is enforced: multiple source
    rows matching the SAME target row is an error (Delta's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW — the update would
    be nondeterministic). Prove-or-probe: when Catalyst proves the
    source holds at most one row per key (:func:`_key_unique` — a
    ``groupBy(keys)`` aggregate, ``dropDuplicates(keys)``, a one-row
    ``SELECT``) no probe runs; otherwise one job looks for duplicate
    keys in the source alone, and only when it finds some does a
    second one ask whether any of them matches the target.

    ``schema_evolution=True`` mirrors Delta's mergeSchema: source
    columns missing from the target are added (existing rows get NULL);
    target columns missing from the source are kept (source rows get
    NULL). Off by default — silent widening should be a choice.

    ``max_history``: the replaced snapshot is retained as version N-1
    under ``<path>__history/`` (time-travel-lite — Delta keeps old
    files until VACUUM); only the newest ``max_history`` snapshots are
    kept, 0 disables retention entirely.
    """
    keys = list(keys)
    if not_matched_by_source not in ("keep", "delete"):
        raise ValueError("not_matched_by_source must be 'keep' or 'delete'")
    target = _read_logical(spark, path)
    base_version = table_version(path)  # optimistic-concurrency baseline
    meta = _read_marker(path)
    # MERGE never changes the table's partitioning (the Delta contract):
    # when the caller doesn't name a layout, the marker's declared one
    # carries through — a bare merge on a partitioned table must not
    # silently rewrite it unpartitioned and drop the layout.
    partition_by = tuple(partition_by) or tuple(
        meta.get("partition_by", ()) or ()
    )
    if _prop_on(meta.get("properties"), _APPEND_ONLY_PROP):
        # Delta delta.appendOnly: INSERT-ONLY merges pass (adding rows
        # is the point of an event log); a matched row would be an
        # update, a BY SOURCE DELETE a removal — both refuse
        if not_matched_by_source == "delete":
            raise AppendOnlyError(
                "merge_upsert(not_matched_by_source='delete') deletes "
                "rows — not allowed on an appendOnly table"
            )
        if not target.join(
            source.select(*[F.col(k) for k in keys]),
            on=list(keys),
            how="left_semi",
        ).isEmpty():
            raise AppendOnlyError(
                "merge_upsert matched existing keys (an update) — an "
                "appendOnly table only accepts insert-only merges"
            )
    if _ROWID_COL in target.columns:
        # row tracking: matched source rows INHERIT the target row's
        # stable id (an update preserves identity — the whole point);
        # unmatched rows join NULL and the commit fills fresh ids.
        # One key-join, only on tracked tables.
        source = source.join(
            target.select(*[F.col(k) for k in keys], _ROWID_COL),
            on=list(keys),
            how="left",
        )
    # derived columns need not ride in the source: generated columns are
    # recomputed and identity NULLs filled by the commit, so missing
    # ones join the union as typed NULL placeholders
    auto_cols = set(meta.get("generated", {})) | set(meta.get("identity", {}))
    target_types = dict(target.dtypes)
    for c in sorted(auto_cols - set(source.columns)):
        source = source.withColumn(c, F.lit(None).cast(target_types[c]))
    # pending ADD COLUMNs a source doesn't carry take their declared
    # DEFAULT (SQL DEFAULT semantics for the unspecified column; before
    # materialization every target row reads the default anyway, so a
    # matched update cannot lose a divergent value)
    for c, spec in sorted(meta.get("added_columns", {}).items()):
        if c not in source.columns:
            source = source.withColumn(
                c, F.lit(spec.get("default")).cast(spec["type"])
            )
    src = F.broadcast(source) if broadcast_source else source
    if not _key_unique(src, keys):
        dup_keys = src.groupBy(*keys).count().filter(F.col("count") > 1)
        if not dup_keys.isEmpty() and not dup_keys.join(
            target, on=keys, how="left_semi"
        ).isEmpty():
            raise ValueError(
                "merge_upsert: multiple source rows match the same target "
                "row for at least one key — the update is nondeterministic "
                "(Delta MERGE contract: "
                "DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW). "
                "Deduplicate the source on the merge keys first."
            )
    untouched = (
        target.join(src, on=keys, how="left_anti")
        if not_matched_by_source == "keep"
        else target.filter(F.lit(False))  # BY SOURCE DELETE: full sync
    )
    if schema_evolution:
        merged = untouched.unionByName(source, allowMissingColumns=True)
    else:
        extra = set(source.columns) - set(target.columns)
        if extra:
            raise ValueError(
                f"source has columns {sorted(extra)} not in the target; "
                "pass schema_evolution=True to widen the table"
            )
        merged = untouched.unionByName(source.select(*target.columns))

    changes = None
    if _cdf_on(meta):
        # the change record the merge already knows, one key-join each:
        # matched target rows = update pre-images, matched source rows
        # = post-images, unmatched source rows = inserts, and (full
        # sync) unmatched target rows = deletes. Only computed when the
        # table property asks for it.
        tgt_keys = target.select(*keys)
        post_src = source if schema_evolution else source.select(*target.columns)
        pre = target.join(src, on=keys, how="left_semi").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = post_src.join(tgt_keys, on=keys, how="left_semi").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        ins = post_src.join(tgt_keys, on=keys, how="left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        changes = pre.unionByName(post, allowMissingColumns=True).unionByName(
            ins, allowMissingColumns=True
        )
        if not_matched_by_source == "delete":
            changes = changes.unionByName(
                target.join(src, on=keys, how="left_anti").withColumn(
                    "_change_type", F.lit("delete")
                ),
                allowMissingColumns=True,
            )

    commit_overwrite(
        merged, path, keys, partition_by, max_history, txn, base_version,
        changes=changes,
        # with evolution the widened schema is the POINT; without it the
        # merged frame was built on target.columns, so enforce is a no-op
        # kept as a tripwire
        schema_mode="overwrite" if schema_evolution else "enforce",
        # vetted above: on appendOnly tables only insert-only merges
        # reach this commit
        _append_only_ok=True,
        _live_schema=target.schema,
    )


def _align_schema(
    df: DataFrame, live_schema, schema_mode: str, path: str, exempt: set
) -> DataFrame:
    """Write-time schema contract for commits over an existing table
    (see :func:`commit_overwrite` ``schema_mode``). Compares LOGICAL
    schemas by (name, type) — order-insensitive (parquet resolves by
    name) and nullability-insensitive (Spark flips nullable freely
    through unions/joins). ``exempt`` columns (generated/identity) are
    maintained by the commit itself."""
    new_types = {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name not in exempt
    }
    live_types = {
        f.name: f.dataType.simpleString()
        for f in live_schema.fields
        if f.name not in exempt
    }
    retyped = sorted(
        c
        for c in new_types.keys() & live_types.keys()
        if new_types[c] != live_types[c]
    )
    if retyped:  # a type change is never implicit, even under merge
        raise SchemaEnforcementError(
            f"{path}: commit retypes column(s) "
            + ", ".join(
                f"{c} ({live_types[c]} -> {new_types[c]})" for c in retyped
            )
            + " — cast explicitly and pass schema_mode='overwrite' if the "
            "type change is intended"
        )
    added = sorted(new_types.keys() - live_types.keys())
    missing = sorted(live_types.keys() - new_types.keys())
    if schema_mode == "enforce":
        if added or missing:
            raise SchemaEnforcementError(
                f"{path}: commit schema drifts from the live table "
                f"(new columns: {added or 'none'}; dropped columns: "
                f"{missing or 'none'}) — pass schema_mode='merge' to "
                "widen (mergeSchema) or 'overwrite' to replace "
                "(overwriteSchema)"
            )
        return df
    # merge: NULL-fill live columns the frame lacks; frame-only columns
    # ride along and widen the table (exactly Delta mergeSchema)
    for f in live_schema.fields:
        if f.name in missing:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def _fill_derived(
    df: DataFrame,
    generated: dict,
    identity: dict | None = None,
    row_hw: int | None = None,
) -> DataFrame:
    """Derived-column fill, shared by every commit that writes rows:
    generated columns are RECOMPUTED — stricter than Delta (which also
    accepts writer-supplied values it then validates); recomputation can
    never commit a stale or inconsistent value. Identity NULL slots fill
    above the high-water mark on the step lattice; a frame that omits
    the column entirely (GENERATED ALWAYS — writers needn't supply it)
    fills every slot. ``row_hw`` set (row tracking on): rows that
    arrived with a ``__row_id`` keep it — that IS the stability
    contract — and new rows draw ids above it.
    monotonically_increasing_id gives collision-free slots without a
    global sort (gaps allowed — the Delta identity contract)."""
    for name, expr in sorted(generated.items()):
        df = df.withColumn(name, F.expr(expr))
    slot = F.monotonically_increasing_id() + F.lit(1)
    fills = {
        name: (int(spec["high_water"]), F.lit(int(spec["step"])) * slot)
        for name, spec in sorted((identity or {}).items())
    }
    if row_hw is not None:
        fills[_ROWID_COL] = (row_hw, slot)
    for name, (hw, offset) in fills.items():
        df = df.withColumn(
            name,
            F.coalesce(
                (F.col(name) if name in df.columns else F.lit(None)).cast("bigint"),
                F.lit(hw) + offset,
            ),
        )
    return df


def _probe_staged(
    scan,
    what: str,
    constraints: dict,
    pk: Sequence[str] = (),
    identity: dict | None = None,
    row_hw: int | None = None,
    pk_scope: str = "",
) -> tuple[dict, int | None]:
    """The commit probe over the rows a commit WROTE (``scan()`` builds
    that frame): CHECK constraints, PRIMARY-KEY duplicate existence,
    identity maxes and the row-id max are all plain aggregates, so they
    fuse into ONE column-pruned aggregate job (r13 verdict item 6).
    Only the rare PK FAILURE path pays a second job — the key-grouped
    probe that names the offending tuple. Returns the identity specs
    and row-id high water advanced monotonically: max(written,
    previous) — a DELETE of the newest rows or a RESTORE to an older
    snapshot must never hand already-issued values out again (the
    Delta identity contract: the high watermark survives data
    rollback). Declaring nothing to probe runs no job, not even the
    scan's schema inference."""
    identity = dict(identity or {})
    c_items = sorted(constraints.items())
    cols = [
        F.sum(F.expr(expr).eqNullSafe(F.lit(False)).cast("long")).alias(f"__c{i}")
        for i, (_, expr) in enumerate(c_items)
    ]
    if pk:
        # duplicate EXISTENCE == n_rows > n_distinct_keys; the struct
        # wrapper keeps NULL-keyed rows countable (aggregation hashing
        # is null-safe per field, same grouping as GROUP BY keys)
        cols.append(F.count(F.lit(1)).alias("__n_rows"))
        cols.append(
            F.count_distinct(F.struct(*[F.col(k) for k in pk])).alias("__n_keys")
        )
    id_names = sorted(identity)
    cols += [F.max(c).alias(f"__idmax_{i}") for i, c in enumerate(id_names)]
    if row_hw is not None:
        cols.append(F.max(_ROWID_COL).alias("__rowid_max"))
    if not cols:
        return identity, row_hw
    staged = scan()
    probe = staged.agg(*cols).first()
    for i, (name, expr) in enumerate(c_items):
        if (probe[f"__c{i}"] or 0) > 0:
            raise ConstraintViolationError(
                f"{what} violates CHECK constraint {name!r} ({expr}) "
                f"for {probe[f'__c{i}']} row(s); commit aborted, "
                "table unchanged"
            )
    if pk and probe["__n_rows"] != probe["__n_keys"]:
        offender = (
            staged.groupBy(*pk)
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > 1)
            .select(*pk)
            .limit(1)
            .collect()
        )
        if offender:
            raise ConstraintViolationError(
                f"{what} violates PRIMARY KEY {list(pk)} — duplicate "
                f"key tuple {tuple(offender[0])}{pk_scope}; commit "
                "aborted, table unchanged"
            )
    for i, c in enumerate(id_names):
        if probe[f"__idmax_{i}"] is not None:
            identity[c] = {
                **identity[c],
                "high_water": max(
                    int(probe[f"__idmax_{i}"]), int(identity[c]["high_water"])
                ),
            }
    if row_hw is not None and probe["__rowid_max"] is not None:
        row_hw = max(row_hw, int(probe["__rowid_max"]))
    return identity, row_hw


class _Staging:
    """One commit's ``<path>__staging_<tag>`` directory as a scope.
    Any failure before the hand-off to :func:`_checked_publish` removes
    the directory; a failure during or after the publish leaves it —
    ``recover()`` must be able to roll a mid-swap failure forward. The
    frames the commit cached (:meth:`persist`) are released on every
    exit, so an aborted commit never pins executor memory."""

    def __init__(self, path: str):
        self.path = path
        self.tag = uuid.uuid4().hex[:8]
        self.dir = f"{path}__staging_{self.tag}"
        self._cached: list[DataFrame] = []
        self._handed_off = False

    def __enter__(self) -> "_Staging":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for df in self._cached:
            df.unpersist()
        if exc_type is not None and not self._handed_off and _fs().exists(self.dir):
            _fs().rmtree(self.dir)

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._cached.append(df)
        return df

    def publish(
        self,
        exists: bool,
        version: int,
        max_history: int,
        base_version: int | None,
        spark: SparkSession,
    ) -> None:
        self._handed_off = True
        _checked_publish(
            self.path, self.dir, exists, version, max_history, self.tag,
            base_version, spark=spark,
        )


def _deferred_maintenance(path: str, run) -> None:
    """Run a maintenance follow-up (autoOptimize re-cluster,
    autoCompact binpack) after a data commit shipped. Maintenance is
    deferrable: a racing commit that wins the follow-up's CAS must never
    fail the commit that triggered it — the next commit re-probes. A
    racing commit can also yank the follow-up's input files mid-job
    (the swap renames the snapshot dir); the (version, ts) state token
    separates that benign race from a real bug."""
    v_trigger = _table_state_token(path)
    try:
        run()
    except ConcurrentWriteError:
        pass
    except Exception:
        if _table_state_token(path) == v_trigger:
            raise


def _auto_optimize(spark: SparkSession, path: str, props: dict) -> None:
    """The ``autoOptimize`` hook: a metadata-only zone-depth probe that
    re-clusters (a separate OPTIMIZE commit, ``auto_optimize=False``
    inside) only when the commit just published pushed the depth past
    the declared threshold. "columns" (clusterBy, multi-key Morton) or
    legacy "column"."""
    spec = props.get("autoOptimize")
    if not spec:
        return
    from .maintenance import optimize_if_degraded

    _deferred_maintenance(
        path,
        lambda: optimize_if_degraded(
            spark,
            path,
            spec.get("columns") or spec["column"],
            float(spec.get("max_avg_depth", 2.0)),
        ),
    )


def commit_overwrite(
    df: DataFrame,
    path: str,
    keys: Sequence[str] = (),
    partition_by: Sequence[str] = (),
    max_history: int = 2,
    txn: dict | None = None,
    expected_version: int | None = None,
    generated: dict | None = None,
    identity: dict | None = None,
    unique_keys: bool = False,
    properties: dict | None = None,
    changes: DataFrame | None = None,
    auto_optimize: bool = True,
    schema_mode: str = "enforce",
    _append_only_ok: bool = False,
    _live_schema: StructType | None = None,
) -> None:
    """Atomic full-snapshot commit via stage-and-swap — works whether or
    not the table exists yet, so it is also the crash-safe first write.
    ``txn`` metadata is written into the STAGED marker and therefore
    becomes visible in the same ``os.rename`` that publishes the data
    (read back via :func:`table_txn`) — the emulation's equivalent of
    Delta committing ``txnVersion`` atomically with the files. The
    replaced snapshot is retained under ``<path>__history/`` for
    time-travel reads; a crash at any step is healed by
    :func:`recover` (old or new snapshot, never a mix).

    ``expected_version``: optimistic concurrency — the commit aborts
    with :class:`ConcurrentWriteError` if the live version no longer
    matches (checked up front to fail fast, and re-checked after
    staging so the conflict window shrinks to the rename pair).
    CHECK constraints of the existing table are enforced against the
    staged snapshot and carried forward into the new marker.

    ``generated`` ({col: sql_expr}) and ``identity``
    ({col: {"start", "step"}}) declare DERIVED and IDENTITY columns at
    table-creation time (first commit), mirroring Delta's
    ``GENERATED ALWAYS AS (expr)`` / ``GENERATED ALWAYS AS IDENTITY``;
    both persist in the marker and are maintained by EVERY later
    commit (merge/delete/update/overwrite). Generated columns are
    recomputed on each commit — stricter than Delta, which also lets a
    writer supply a value it then validates; recomputation can never
    commit a stale value after an UPDATE touches an input column.
    Identity columns fill NULL slots with unique BIGINTs on the
    ``start + n*step`` lattice, strictly above the previous commit's
    high-water mark (gaps allowed, exactly the Delta contract); the
    high-water advances atomically with the snapshot swap.

    ``unique_keys=True`` at creation declares the ``keys`` a PRIMARY
    KEY: every later commit (merge/delete/update/overwrite/restore)
    verifies the STAGED snapshot has no duplicate key tuple — one
    key-pruned existence probe, same staging-scan discipline as CHECK
    constraints — and aborts with ``ConstraintViolationError`` leaving
    the table untouched. This is STRONGER than Delta, whose PRIMARY KEY
    is informational-only; ``merge_upsert`` guarantees it by
    construction, but raw overwrites could silently break the key
    contract downstream pipelines rely on.

    ``properties`` declares table properties at creation time
    (``enableChangeDataFeed`` is the one with commit-time behavior);
    thereafter the live marker's properties carry forward.
    ``changes`` is the commit's row-level change record (data columns
    + ``_change_type``): when the table's CDF property is on it is
    written as the snapshot's ``_change_data`` sidecar — published by
    the same atomic swap — and :func:`table_changes` reads it back.
    A CDF-enabled commit WITHOUT a change record (a generic overwrite,
    whose diff nobody computed) publishes no sidecar; ``table_changes``
    refuses that version and points at the :func:`read_changes`
    snapshot diff instead of silently serving a hole.

    The ``autoOptimize`` table property ({"column": c, "max_avg_depth":
    d}) makes every rewriting commit run the liquid maintenance
    trigger afterwards: a metadata-only zone-depth probe, and a
    re-clustering OPTIMIZE commit only when this commit degraded the
    layout past the threshold — Databricks' auto-optimize discipline
    driven by the same `optimize_if_degraded` primitive. The OPTIMIZE
    commit itself passes ``auto_optimize=False`` (no recursion).

    ``schema_mode`` is Delta's write-time schema contract on an EXISTING
    table: ``"enforce"`` (default) refuses a commit whose logical schema
    adds, drops, or retypes columns vs the live table
    (:class:`SchemaEnforcementError` — silent schema drift is how
    downstream readers break at 3am); ``"merge"`` mirrors
    ``mergeSchema`` (live columns the frame lacks are NULL-filled, new
    frame columns widen the table, a TYPE conflict still refuses);
    ``"overwrite"`` mirrors ``overwriteSchema`` (the frame's schema
    replaces the table's). Generated and identity columns are exempt
    from the comparison — the commit recomputes/fills them itself.
    The DML callers built ``df`` over :func:`_read_logical` of the
    version they pass as ``expected_version`` and hand that frame's
    schema over as ``_live_schema`` instead of a second read."""
    if schema_mode not in ("enforce", "merge", "overwrite"):
        raise ValueError(
            f"schema_mode must be enforce|merge|overwrite, got {schema_mode!r}"
        )
    recover(path)
    exists = _fs().exists(os.path.join(path, _MARKER))
    if expected_version is not None and exists:
        if table_version(path) != expected_version:
            raise ConcurrentWriteError(
                f"{path}: expected version {expected_version}, live is "
                f"{table_version(path)} — another commit intervened; "
                "re-read and retry"
            )
    live_marker = _read_marker(path) if exists else {}
    _check_writer(live_marker, path)
    if exists and not _append_only_ok:
        # a full-snapshot commit on an appendOnly table is a rewrite;
        # only vetted insert-only paths (merge with zero matches) pass
        _check_append_only(live_marker, "overwrite")
    constraints = live_marker.get("constraints", {})
    # column metadata persists across commits; creation-time args only
    # apply on the first commit (Delta: generated/identity columns are
    # declared in CREATE TABLE, not ALTERable onto live tables)
    gen_cols = live_marker.get("generated", {}) if exists else dict(generated or {})
    uk = bool(live_marker.get("unique_keys", False)) if exists else bool(unique_keys)
    props = (
        live_marker.get("properties", {}) if exists else dict(properties or {})
    )
    key_list = list(keys) or list(live_marker.get("keys", []))
    if uk and not key_list:
        raise ValueError("unique_keys=True requires non-empty keys")
    id_cols = live_marker.get("identity", {}) if exists else {
        c: {"start": int(s.get("start", 1)), "step": int(s.get("step", 1)),
            "high_water": int(s.get("start", 1)) - int(s.get("step", 1))}
        for c, s in (identity or {}).items()
    }
    if _cdf_on({"properties": props}) and id_cols:
        raise ValueError(
            "enableChangeDataFeed is unsupported on tables with identity "
            "columns (see set_table_property)"
        )
    if exists and schema_mode != "overwrite":
        df = _align_schema(
            df,
            _live_schema
            if _live_schema is not None
            else read(df.sparkSession, path).schema,
            schema_mode,
            path,
            exempt=set(gen_cols) | set(id_cols) | {_ROWID_COL},
        )
    tracking = _prop_on(props, _ROWTRACK_PROP)
    row_hw = int(live_marker.get("row_tracking", {}).get("high_water", 0))
    if not tracking and _ROWID_COL in df.columns:
        # tracking switched off: stop materializing the column
        df = df.drop(_ROWID_COL)
    # rows that arrived with an id (DML paths thread it through
    # _read_logical) keep it; new/legacy rows draw fresh ids
    df = _fill_derived(df, gen_cols, id_cols, row_hw if tracking else None)
    version = table_version(path) + 1 if exists else 0
    spark = df.sparkSession
    with _Staging(path) as st:
        staging = st.dir
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        # an EMPTY staged snapshot (CREATE TABLE, or a partitioned write
        # of zero rows — which emits no files) has nothing to probe: skip
        # the staged-parquet probe (it would die on schema inference) and
        # record the schema in the marker instead, so reads can serve the
        # declared empty frame (Delta's schema-in-log)
        staged_stats = _snapshot_stats(staging)
        staged_empty = int(staged_stats["n_files"]) == 0
        if not staged_empty:
            # still reads the WRITTEN files: monotonic ids must never be
            # recomputed into different values
            id_cols, row_hw = _probe_staged(
                lambda: _scan(
                    spark.read, staged_stats.get("file_schema"), staging
                ),
                "write",
                constraints,
                pk=key_list if uk else (),
                identity=id_cols,
                row_hw=row_hw if tracking else None,
            )
        # skipping-manifest sidecars carry forward as the table's INDEX
        # DECLARATION; the STATS manifest is then rebuilt from the staged
        # footers right here (Delta collects file stats at write for the
        # same reason) so min/max skipping is fresh the moment the commit
        # publishes — no fail-open window, no separate re-index job. The
        # bloom manifest is executor work (a Spark job per build), so it
        # stays a declaration until layout.update_bloom_manifest
        # re-indexes (reads fail open meanwhile).
        if exists:
            for sidecar in ("_stats_manifest.json", "_bloom_manifest.json"):
                src = os.path.join(path, sidecar)
                if _fs().exists(src):
                    _fs().copy(src, os.path.join(staging, sidecar))
            if not partition_by:
                _refresh_staged_stats_manifest(staging)
        has_cdf = False
        if _cdf_on({"properties": props}):
            if not exists and changes is None:
                # CDF enabled at creation: the initial load's change
                # record is the load itself, all inserts (Delta does the
                # same)
                changes = df.withColumn("_change_type", F.lit("insert"))
            if changes is not None:
                # change rows must match committed rows: recompute the
                # DERIVED columns with the same expressions applied to df
                _write_cdf(_fill_derived(changes, gen_cols), staging)
                has_cdf = True
        # marker is staged LAST: its presence marks the dir committed-ready
        extra: dict = {}
        if has_cdf:
            extra["has_cdf"] = True
        if tracking:
            extra["row_tracking"] = {"high_water": int(row_hw)}
        # computed above; spare the recount (carries file_schema too)
        extra["stats"] = staged_stats
        if staged_empty:
            # partition columns go LAST — the order a file-backed read of
            # a partitioned snapshot reports, so the schema is stable
            # across the table's first real data commit
            pset = set(partition_by)
            fields = [f for f in df.schema.fields if f.name not in pset]
            fields += [f for f in df.schema.fields if f.name in pset]
            extra["schema_json"] = StructType(fields).json()
        _write_marker(
            staging, key_list, partition_by, version=version, txn=txn,
            constraints=constraints, generated=gen_cols, identity=id_cols,
            unique_keys=uk, properties=props,
            extra=extra or None,
        )
        st.publish(
            exists, version, max_history,
            expected_version if exists else None, spark,
        )
    if auto_optimize and not partition_by:
        _auto_optimize(spark, path, props)


def _table_state_token(path: str) -> tuple:
    """(version, commit ts) — changes on EVERY publish, including
    data-preserving compaction swaps (which keep the version but stamp
    a fresh ts). The auto-maintenance hooks use it to tell a benign
    concurrent-swap failure from a real bug."""
    m = _read_marker(path) or {}
    return (int(m.get("version", 0)), m.get("ts"))


def _refresh_staged_stats_manifest(
    staging: str, incremental: bool = False
) -> None:
    """Rebuild (or incrementally extend) a staged snapshot's
    ``_stats_manifest.json`` for the columns the carried manifest
    declares — commit-time index maintenance. Cost: one pass over the
    staged footers (full rebuild after a rewrite; O(appended files)
    for the deletion-vector update, whose hardlinked files keep their
    basename-matched entries). No-op without a manifest or without a
    derivable column declaration."""
    import json as _json

    mpath = os.path.join(staging, "_stats_manifest.json")
    if not _fs().exists(mpath):
        return
    try:
        entries = _json.loads(_fs().read_text(mpath))
    except _json.JSONDecodeError:  # torn sidecar: leave for re-index
        return
    columns = sorted({c for e in entries for c in e.get("stats", {})})
    if not columns:
        return
    from .layout import update_stats_manifest, write_stats_manifest

    if incremental:
        update_stats_manifest(staging, columns)
    else:
        write_stats_manifest(staging, columns)


def _publish_staging(
    path: str,
    staging: str,
    exists: bool,
    version: int,
    max_history: int,
    tag: str,
) -> None:
    """The swap half of every commit: rename-pair the committed-ready
    staging dir live, retire the replaced snapshot into ``__history``
    bounded by ``max_history``. A crash anywhere in the window is
    healed by :func:`recover` (staging's marker was written last)."""
    if not exists:
        if _fs().exists(path):  # unmanaged leftovers — clear, then swap
            _fs().rmtree(path)
        _fs().rename_dir(staging, path)
        _fsync_dir(os.path.dirname(os.path.abspath(path)) or ".")
        return
    backup = f"{path}__old_{tag}"
    _fs().rename_dir(path, backup)
    _fs().rename_dir(staging, path)
    _fsync_dir(os.path.dirname(os.path.abspath(path)) or ".")
    if max_history > 0:
        hist = _history_dir(path)
        _fs().makedirs(hist, exist_ok=True)
        _fs().rename_dir(backup, os.path.join(hist, f"v{version - 1:06d}"))
        snaps = sorted(d for d in _fs().listdir(hist) if d.startswith("v"))
        for stale in snaps[:-max_history]:
            _fs().rmtree(os.path.join(hist, stale))
    else:
        _fs().rmtree(backup)


# -- commit serialization ------------------------------------------------
# The version recheck + snapshot swap is the one window where two
# writers can silently lose an update (both pass the check, both swap;
# the second swap retires the first writer's fresh commit into history).
# A per-table put-if-absent lock FILE closes it: write_exclusive is the
# fs seam's conditional-PUT primitive (hard-link create locally,
# If-None-Match:* on an object store — the same primitive Delta's log
# store builds its commit CAS on), so the check-and-swap becomes a
# critical section. The lock guards METADATA ops only (one version read
# + two renames, sub-millisecond) — staging, validation, and all data
# I/O happen outside it, so writer throughput is unaffected.
_LOCK_SUFFIX = "__commitlock"
_LOCK_STALE_SECONDS = 60.0  # holder does renames only; >60s = crashed
_LOCK_ACQUIRE_TIMEOUT = 120.0


def _steal_stale(lockfile: str) -> None:
    """Retire a stale lock/claim file ATOMICALLY: rename it to a unique
    tombstone — exactly one of N concurrent stealers wins the rename
    (the source vanishes; the rest get ENOENT and re-probe). An
    unconditional ``remove()`` here was the round-9 bug: two stealers
    that both observed staleness could interleave so the second remove
    deleted the first stealer's FRESHLY ACQUIRED lock, letting two
    writers into the critical section. After the rename, verify the
    captured incarnation really was the stale one — if a live writer's
    fresh lock was grabbed in the probe→rename window, put it back
    (put-if-absent). The only residual overlap needs a THIRD writer to
    acquire inside that restore window; the version-claim CAS in
    ``_checked_publish`` turns even that into a loud
    ConcurrentWriteError instead of a silent lost update."""
    tomb = f"{lockfile}.steal.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        _fs().replace(lockfile, tomb)
    except OSError:
        return  # another stealer won the rename, or the holder released
    try:
        fresh = time.time() - _fs().getmtime(tomb) <= _LOCK_STALE_SECONDS
    except OSError:  # pragma: no cover - tombstone swept underneath us
        return
    if fresh:  # captured a LIVE writer's lock — restore it
        try:
            _fs().write_exclusive(lockfile, _fs().read_text(tomb))
        except (FileExistsError, OSError):  # pragma: no cover
            pass  # a third writer took the name; the claim CAS backstops
    try:
        _fs().remove(tomb)
    except OSError:  # pragma: no cover
        pass


@contextlib.contextmanager
def _commit_lock(path: str):
    """Acquire the table's commit lock (put-if-absent lock file). A
    holder that crashed mid-publish left a consistent table (recover()
    heals the swap window), so a stale lock is safe to STEAL after
    ``_LOCK_STALE_SECONDS`` — via :func:`_steal_stale`'s atomic-rename
    protocol, never a blind remove. The lock carries a holder-unique
    token and release is OWNERSHIP-VERIFIED: a holder whose lock was
    stolen (frozen >60s) walks away instead of deleting the thief's
    successor's lock. The lock provides liveness-bounded mutual
    exclusion; the version-claim CAS in :func:`_checked_publish` is the
    correctness backstop."""
    lock = path + _LOCK_SUFFIX
    token = f"{os.getpid()}.{uuid.uuid4().hex}"
    deadline = time.time() + _LOCK_ACQUIRE_TIMEOUT
    while True:
        try:
            _fs().write_exclusive(
                lock,
                json.dumps(
                    {"token": token, "pid": os.getpid(), "ts": time.time()}
                ),
            )
            break
        except FileExistsError:
            try:
                if time.time() - _fs().getmtime(lock) > _LOCK_STALE_SECONDS:
                    _steal_stale(lock)  # crashed holder — atomic steal
                    continue
            except OSError:
                continue  # holder released between probe and getmtime
            if time.time() > deadline:
                raise ConcurrentWriteError(
                    f"{path}: could not acquire the commit lock within "
                    f"{_LOCK_ACQUIRE_TIMEOUT:.0f}s — another writer is "
                    "stuck mid-publish or the lock file is orphaned "
                    f"({lock})"
                ) from None
            time.sleep(0.02)
    try:
        yield
    finally:
        try:
            mine = json.loads(_fs().read_text(lock)).get("token") == token
        except (OSError, ValueError):  # pragma: no cover - stolen/torn
            mine = False
        if mine:
            try:
                _fs().remove(lock)
            except OSError:  # pragma: no cover - stolen as stale
                pass


def _is_transient_read_error(exc: BaseException) -> bool:
    """A read-time listing/footer failure caused by a concurrent swap
    retiring the files mid-job — the ONLY generic-exception shape the
    retry loops may eat. Anything else re-raises: in particular a
    failure DURING the swap must never retry (the staged marker may be
    committed-ready, recover() would roll it forward, and re-running a
    non-idempotent op — UPDATE SET v = v + 1 — would apply it twice)."""
    if isinstance(exc, FileNotFoundError):
        return True
    s = str(exc)
    return (
        "FileNotFoundException" in s
        or "PATH_NOT_FOUND" in s
        or "does not exist" in s
    )


def _retry_dml(fn, path: str, attempts: int = 5):
    """Delta-style automatic commit retry for DML that READS the table
    (MERGE / DELETE / UPDATE): on a version-CAS loss the WHOLE op
    re-executes against the new live snapshot — re-read, re-stage,
    re-validate — which is exactly WriteSerializable semantics (the
    retried op serializes AFTER the winner and sees its rows). Real
    Delta's OptimisticTransaction does the same internally
    (checkAndRetry); before the r9 commit lock these races were silent
    lost-updates, so surfacing-then-retrying is strictly safer.
    Bounded: persistent contention re-raises the last conflict.

    A concurrent SWAP can also yank the op's input files mid-job
    (FileNotFound from a retired snapshot dir — e.g. a compaction that
    kept the version but moved every file). That is the same conflict
    in a different coat: retried IF the table's (version, ts) state
    token moved since the attempt began; an unchanged token means a
    real bug, re-raised."""
    for i in range(attempts):
        token = _table_state_token(path)
        try:
            return fn()
        except ConcurrentWriteError:
            if i == attempts - 1:
                raise
            recover(path)
            time.sleep(0.02 * (i + 1))
        except Exception as e:
            if (
                i == attempts - 1
                or not _is_transient_read_error(e)
                or _table_state_token(path) == token
            ):
                raise
            recover(path)
            time.sleep(0.02 * (i + 1))


def _last_rewrite_version(marker: dict) -> int:
    """Version of the most recent commit that REWROTE table data (vs a
    blind append / data-preserving rewrite). Blind appends carry the
    field forward; every other commit leaves it unset, which reads as
    "this very version rewrote" — conservative for legacy markers and
    for any writer build that predates the field. Deliberately NOT a
    protocol feature: dropping it only disables append auto-rebase
    (liveness), never correctness."""
    lr = marker.get("last_rewrite_version")
    return int(lr) if lr is not None else int(marker.get("version", 0))


# Commit claims: version-addressed put-if-absent files, the
# filesystem-level analogue of Delta's log-store conditional PUT of
# `N.json` — exactly one writer may PRODUCE version N of a table, even
# if the commit lock's mutual exclusion is ever breached (a frozen
# holder stolen as stale). Claims persist for _CLAIM_KEEP versions
# behind the live one so a writer frozen mid-publish cannot re-claim a
# version that already shipped; publish sweeps older claims, vacuum
# sweeps orphans.
_CLAIM_SUFFIX = "__commit_v"
_CLAIM_KEEP = 8


def _claim_version(path: str, version: int, base_version: int | None) -> None:
    """Put-if-absent claim of (table, version). A FRESH existing claim
    is a live concurrent writer publishing the same version — raise
    :class:`ConcurrentWriteError` (auto-retried by ``_retry_dml`` /
    append rebase). A STALE claim is a crashed writer's orphan (its
    swap either completed — in which case the live version moved and
    the recheck already failed — or ``recover()`` rolled it back):
    stolen via the same atomic-rename protocol as the commit lock."""
    claim = f"{path}{_CLAIM_SUFFIX}{version:06d}"
    while True:
        try:
            _fs().write_exclusive(
                claim, json.dumps({"pid": os.getpid(), "ts": time.time()})
            )
            return
        except FileExistsError:
            try:
                stale = (
                    time.time() - _fs().getmtime(claim) > _LOCK_STALE_SECONDS
                )
            except OSError:
                continue  # claimer swept it between probe and getmtime
            if stale:
                _steal_stale(claim)
                continue
            err = ConcurrentWriteError(
                f"{path}: another writer holds the commit claim for "
                f"version {version} — a concurrent publish of the same "
                "version is in flight; re-read and retry"
            )
            if base_version is not None:
                err.base_version = base_version
            raise err


def _sweep_claims(path: str, version: int) -> None:
    """Drop claim files retired past the keep horizon (cheap prefix
    glob of the table's siblings; runs after every publish)."""
    for f in _fs().glob(f"{path}{_CLAIM_SUFFIX}*"):
        tail = f.rsplit(_CLAIM_SUFFIX, 1)[1]
        if not tail.isdigit() or int(tail) > version - _CLAIM_KEEP:
            continue
        try:
            _fs().remove(f)
        except OSError:  # pragma: no cover
            pass


# Table property: re-export a versioned external-reader _delta_log
# inside every commit (maintenance.export_delta_log) — the log is
# never stale because the re-export happens before the commit lock
# releases. Commits that introduce reader features skip silently (the
# hardlink skip-list already shed the old log, so no log is served).
_LOG_EXPORT_PROP = "delta.logExport.auto"


def _checked_publish(
    path: str,
    staging: str,
    exists: bool,
    version: int,
    max_history: int,
    tag: str,
    base_version: int | None,
    spark: SparkSession | None = None,
) -> None:
    """Version recheck + snapshot swap as ONE critical section under the
    table's commit lock — the CAS every optimistic commit needs (Delta:
    the log store's conditional PUT of the next commit file). The lock
    gives liveness-bounded exclusion; the version CLAIM
    (:func:`_claim_version`, taken inside the lock before any rename)
    makes the CAS hold at the filesystem level even across a lock
    breach — two writers publishing the same next version can never
    both swap, so the lost-update is structurally impossible, not just
    excluded in the common path.

    ``base_version`` set: abort with :class:`ConcurrentWriteError` (the
    staged snapshot was derived from that version) if the live version
    moved — the error carries ``.base_version`` so append auto-rebase
    can judge what landed in between. ``base_version=None`` (an
    unconditional overwrite): last-writer-wins, but the staged marker's
    version is re-stamped to live+1 under the lock so concurrent
    unconditional writers serialize into distinct versions instead of
    colliding in ``__history``."""
    with _commit_lock(path):
        if exists and base_version is not None:
            live_v = table_version(path)
            if live_v != base_version:
                _fs().rmtree(staging)
                err = ConcurrentWriteError(
                    f"{path}: version advanced {base_version} -> {live_v} "
                    "during staging — another commit intervened; re-read "
                    "and retry"
                )
                err.base_version = base_version
                raise err
        elif exists:
            live_v = table_version(path)
            if live_v != version - 1:
                version = live_v + 1
                m = _read_marker(staging)
                m["version"] = version
                _replace_marker(staging, m)
        try:
            _claim_version(path, version, base_version)
        except ConcurrentWriteError:
            _fs().rmtree(staging)
            raise
        try:
            _publish_staging(path, staging, exists, version, max_history, tag)
        except BaseException:
            # a FAILED publish (exception, not process death) releases
            # its claim — otherwise the next commit within the stale
            # window would conflict against a version that never
            # shipped. A hard CRASH leaves the claim; successors pay at
            # most _LOCK_STALE_SECONDS, the same liveness bound as a
            # crashed lock holder.
            try:
                _fs().remove(f"{path}{_CLAIM_SUFFIX}{version:06d}")
            except OSError:  # pragma: no cover
                pass
            raise
        if spark is not None and (
            (_read_marker(path) or {}).get("properties") or {}
        ).get(_LOG_EXPORT_PROP):
            from .maintenance import export_delta_log

            try:
                # still inside the lock: the exported log always matches
                # the version it describes (no torn-export window)
                export_delta_log(spark, path, versioned=True)
            except ProtocolError:
                pass  # reader features — the commit shed the old log
    _sweep_claims(path, version)


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    max_history: int = 2,
    deletion_vectors: bool = False,
) -> None:
    """See :func:`_delete_where_impl`; this wrapper adds Delta's
    automatic commit retry (:func:`_retry_dml`) — a CAS loss to a
    concurrent commit re-runs the delete against the new snapshot."""
    return _retry_dml(
        lambda: _delete_where_impl(
            spark, path, condition, max_history, deletion_vectors
        ),
        path,
    )


def _delete_where_impl(
    spark: SparkSession,
    path: str,
    condition,
    max_history: int = 2,
    deletion_vectors: bool = False,
) -> None:
    """Delta ``DELETE FROM t WHERE cond`` analogue — the erasure
    surface (GDPR right-to-be-forgotten runs through exactly this op on
    a lakehouse). Rows where the condition is TRUE are removed; rows
    where it is NULL are KEPT (SQL DELETE semantics — an unevaluable
    predicate deletes nothing). The previous snapshot stays readable
    via ``read(version=)`` until ``maintenance.vacuum`` — a compliance
    pipeline must vacuum after erasing.

    ``deletion_vectors=False`` rewrites the whole table (real Delta
    without DVs rewrites only files containing matches — with the
    Z-order/clustered layouts in ``operators/layout.py`` those are
    few).

    ``deletion_vectors=True`` commits the delete WITHOUT rewriting any
    data file (Delta's deletion-vector mode): the new version's data
    files are hardlinks of the old (metadata cost), plus a ``_dv``
    sidecar of (file, row-index) positions that every read anti-joins
    away at scan time. Delete cost becomes O(matches found) + O(files)
    link metadata instead of O(table bytes) — at 100 TB the difference
    between seconds and a full-table rewrite. The read-side tax is one
    (usually broadcast) anti-join until the next data-rewriting commit
    (merge / overwrite / ``maintenance.materialize_deletes``, Delta's
    ``REORG TABLE ... APPLY (PURGE)``) materializes the deletion.
    Skipping-manifest sidecars stay valid: a deleted row's min/max or
    bloom bits can only over-KEEP a file, never skip a live row."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    _check_append_only(_read_marker(path), "DELETE")
    if deletion_vectors:
        _delete_where_dv(spark, path, cond, max_history)
        return
    marker = _read_marker(path)
    base_version = table_version(path)
    # _read_logical keeps __row_id attached: survivors carry their
    # stable ids through the rewrite (the row-tracking contract)
    target = _read_logical(spark, path)
    hit = F.coalesce(cond, F.lit(False))
    kept = target.filter(~hit)
    changes = (
        target.filter(hit).withColumn("_change_type", F.lit("delete"))
        if _cdf_on(marker)
        else None
    )
    commit_overwrite(
        kept,
        path,
        marker.get("keys", []),
        marker.get("partition_by", []),
        max_history,
        expected_version=base_version,
        changes=changes,
        _live_schema=target.schema,
    )


def _link_snapshot_files(
    src: str,
    staging: str,
    skip: Sequence[str] = (_DV_DIR, _CDF_DIR, _DELTA_LOG_DIR, _DELTA_HISTORY_DIR),
) -> int:
    """Hardlink every data/sidecar file of a snapshot into a staging
    dir (skipping the marker, the ``skip`` sidecar dirs, and temp
    droppings) — the metadata-cost 'rewrite' under a deletion-vector
    commit. Safe to share links: snapshots are immutable (every write
    path creates fresh files; sidecar refreshes go through
    ``write_atomic``'s replace, which breaks the link)."""
    n = 0
    for root, _dirs, files in _fs().walk(src):
        rel = os.path.relpath(root, src)
        parts = [] if rel == "." else rel.split(os.sep)
        # _dv: the commit writes a fresh merged vector; _change_data:
        # it describes the PREVIOUS version's changes, and this commit
        # writes its own record (linking the old one would claim the
        # old changes happened again at the new version); _delta_log /
        # _delta_history: an exported external-reader log describes the
        # PREVIOUS snapshot — carrying it forward would hand an external
        # Delta engine a stale file inventory over the new version
        if parts and parts[0] in skip:
            continue
        tgt = staging if rel == "." else os.path.join(staging, rel)
        _fs().makedirs(tgt, exist_ok=True)
        for fn in files:
            if fn == _MARKER or fn.endswith(".tmp"):
                continue
            _fs().link_or_copy(os.path.join(root, fn), os.path.join(tgt, fn))
            n += 1
    return n


# Raw-SQL-view bookkeeping: register_sql_view (sources/delta_api.py)
# creates session-catalog VIEWs that scan the snapshot as PLAIN parquet.
# A commit that introduces a reader feature (deletion vectors: the raw
# scan would serve soft-deleted rows; column mapping: the raw scan
# serves stale physical names) must invalidate them — two mechanisms:
#   1. the view names are recorded in a sibling sentinel so the commit
#      can DROP them in its OWN session's catalog;
#   2. every registered view carries a scalar-subquery guard on a
#      sibling CANARY parquet dir; the invalidating commit DELETES the
#      canary, so a view in ANY OTHER live session fails its next
#      query at analysis (PATH_NOT_FOUND naming ...__sql_view_canary)
#      instead of silently serving wrong rows. Cross-session closure
#      without cross-session catalog access.
_SQL_VIEWS_SUFFIX = "__sql_views.json"
_SQL_VIEW_CANARY_SUFFIX = "__sql_view_canary"


def _sql_view_canary_dir(path: str) -> str:
    return path.rstrip("/") + _SQL_VIEW_CANARY_SUFFIX


def _ensure_sql_view_canary(path: str) -> str:
    """Create (idempotently) the one-row parquet canary every
    registered raw SQL view over ``path`` guards on; returns its
    directory. Deleting the directory invalidates the views of EVERY
    session at their next analysis."""
    d = _sql_view_canary_dir(path)
    fp = os.path.join(d, "canary.parquet")
    if not _fs().exists(fp):
        import pyarrow as pa
        import pyarrow.parquet as pq

        _fs().makedirs(d, exist_ok=True)
        tmp = fp + ".tmp"
        pq.write_table(pa.table({"ok": pa.array([1], pa.int32())}), tmp)
        _fs().replace(tmp, fp)
    return d


def _record_sql_view(path: str, qualified: str) -> None:
    sentinel = path + _SQL_VIEWS_SUFFIX
    try:
        names = json.loads(_fs().read_text(sentinel))
    except (OSError, ValueError):
        names = []
    if qualified not in names:
        names.append(qualified)
    _fs().write_atomic(sentinel, json.dumps(names))


def _invalidate_sql_views(spark: SparkSession, path: str, reason: str) -> None:
    """Invalidate every registered raw-parquet VIEW over ``path``:
    DROP the recorded names in THIS session's catalog (next query fails
    loudly with VIEW_NOT_FOUND), and DELETE the sibling canary so views
    held by OTHER live sessions fail their next analysis with
    PATH_NOT_FOUND on ``...__sql_view_canary`` instead of silently
    serving wrong rows."""
    canary = _sql_view_canary_dir(path)
    if _fs().isdir(canary):
        try:
            _fs().rmtree(canary)
        except OSError:  # pragma: no cover
            pass
    sentinel = path + _SQL_VIEWS_SUFFIX
    try:
        names = json.loads(_fs().read_text(sentinel))
    except (OSError, ValueError):
        return
    import warnings

    for q in names:
        try:
            spark.sql(f"DROP VIEW IF EXISTS {q}")
        except Exception:  # pragma: no cover - malformed recorded name
            pass
    try:
        _fs().remove(sentinel)
    except OSError:  # pragma: no cover
        pass
    warnings.warn(
        f"{path}: {reason} — registered SQL view(s) {names} were dropped "
        "(a raw parquet view cannot honor the new reader feature); "
        "materialize and re-register. Views registered by OTHER live "
        "sessions fail their next query on the deleted "
        f"{_SQL_VIEW_CANARY_SUFFIX} guard — re-register there too.",
        stacklevel=3,
    )


def _dv_live_scan(spark: SparkSession, path: str) -> tuple[dict, DataFrame, dict]:
    """The live marker (writer features checked) and the live snapshot
    as the DV commits scan it: every row tagged
    with its (snapshot-relative file, row index) position, under
    LOGICAL names (conditions and assignments reference logical names;
    positions are physical), restricted to LIVE rows — an
    already-deleted row must neither re-enter the change record as a
    fresh delete nor come back as a post-image. Also returns the
    snapshot's physical {column: type}."""
    marker = _live_marker(path)
    _check_writer(marker, path)
    raw = _scan(spark.read, _recorded_schema(marker), path)
    tagged = raw.select(
        "*",
        _dv_rel_file(path).alias(_DV_FILE_COL),
        F.col("_metadata.row_index").alias(_DV_IDX_COL),
    )
    logical = _apply_column_mapping(tagged, marker)
    if marker.get("dv"):
        logical = logical.join(
            F.broadcast(_dv_scan(spark, path)),
            [_DV_FILE_COL, _DV_IDX_COL],
            "left_anti",
        )
    return marker, logical, dict(raw.dtypes)


def _dv_publish(
    spark: SparkSession,
    path: str,
    marker: dict,
    st: _Staging,
    matched: DataFrame,
    max_history: int,
    op: str,
) -> None:
    """Tail of both DV commits: merged vector = old vector + the matched
    positions, the marker (DV cardinality recorded so reads can pick
    broadcast-vs-shuffle for the anti-join without a count job; column
    metadata carried — physical names are unchanged; stats and
    file_schema from the staged footers, see _write_marker), the swap,
    and the raw-SQL-view invalidation."""
    positions = matched.select(_DV_FILE_COL, _DV_IDX_COL)
    if marker.get("dv"):
        positions = positions.unionByName(_dv_scan(spark, path))
    dv_dir = os.path.join(st.dir, _DV_DIR)
    positions.distinct().write.mode("overwrite").parquet(dv_dir)
    n_dv, _ = _footer_stats(_sidecar_files(st.dir, _DV_DIR))
    extra: dict = {"operation": f"{op.lower()}_dv"}
    if n_dv > 0:
        extra["dv"] = {"n_rows": int(n_dv)}
    else:
        # zero matches and no inherited vector: don't install a DV at
        # all — it would tax every later read with an anti-join that
        # can never drop a row
        _fs().rmtree(dv_dir)
    if _cdf_on(marker):
        extra["has_cdf"] = True
    base_version = int(marker.get("version", 0))
    _stage_marker(st.dir, marker, "dv", version=base_version + 1, extra=extra)
    st.publish(True, base_version + 1, max_history, base_version, spark)
    _invalidate_sql_views(
        spark, path, f"{op} enabled deletion vectors on this table"
    )


def _delete_where_dv(
    spark: SparkSession, path: str, cond, max_history: int
) -> None:
    """Deletion-vector DELETE commit (see :func:`delete_where`).

    Protocol: compute matching (file, row-index) positions from the
    live scan, union them with the existing vector, hardlink all data
    files into a staging dir, write the merged ``_dv`` parquet there,
    then stage the marker last and swap — the standard crash window,
    healed by :func:`recover`."""
    marker, logical, _ = _dv_live_scan(spark, path)
    matched = logical.filter(F.coalesce(cond, F.lit(False)))
    with _Staging(path) as st:
        _link_snapshot_files(path, st.dir)
        if _cdf_on(marker):
            # the CDF record and the DV position write both re-execute
            # the matched scan (full read + anti-join + filter) — cache
            # it for the commit's scope so the table is scanned once
            # (guide §2.4); persist (not localCheckpoint) so the blocks
            # are released with the scope. Matched rows are a small
            # fraction of the table, so the cache is far cheaper than a
            # second scan at any scale.
            matched = st.persist(matched)
            _write_cdf(
                matched.drop(_DV_FILE_COL, _DV_IDX_COL).withColumn(
                    "_change_type", F.lit("delete")
                ),
                st.dir,
            )
        _dv_publish(
            spark, path, marker, st, matched, max_history, "DELETE"
        )


def update_where(
    spark: SparkSession,
    path: str,
    condition,
    assignments: dict,
    max_history: int = 2,
    deletion_vectors: bool = False,
) -> None:
    """See :func:`_update_where_impl`; this wrapper adds Delta's
    automatic commit retry (:func:`_retry_dml`) — a CAS loss to a
    concurrent commit re-runs the update against the new snapshot."""
    return _retry_dml(
        lambda: _update_where_impl(
            spark, path, condition, assignments, max_history,
            deletion_vectors,
        ),
        path,
    )


def _update_where_impl(
    spark: SparkSession,
    path: str,
    condition,
    assignments: dict,
    max_history: int = 2,
    deletion_vectors: bool = False,
) -> None:
    """Delta ``UPDATE t SET ... WHERE cond`` analogue. ``assignments``
    maps column name -> Column expression (evaluated against the
    current row); non-matching rows (condition FALSE or NULL) are
    untouched. Default: single projection + snapshot commit — no join.

    ``deletion_vectors=True`` is Delta's DV-backed UPDATE: the matched
    rows' positions join the ``_dv`` vector (pre-images disappear from
    reads) and only their POST-IMAGES are written as fresh appended
    files into the otherwise-hardlinked snapshot — write cost
    O(matches), not O(table). Generated columns are recomputed and
    CHECK constraints validated on the post-image delta alone (the
    untouched rows already passed at their own commit). Falls back to
    the rewrite path when the update touches a PRIMARY KEY column
    (global uniqueness needs the full probe a rewrite commit does) or
    when the table carries pending dropped-column metadata (appended
    files would fork the physical schema)."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    _check_append_only(_read_marker(path), "UPDATE")
    if deletion_vectors:
        marker = _read_marker(path)
        key_touch = bool(marker.get("unique_keys")) and (
            set(assignments) & set(marker.get("keys", []))
        )
        if not key_touch and not marker.get("dropped_columns"):
            _update_where_dv(spark, path, cond, assignments, max_history)
            return
    marker = _read_marker(path)
    base_version = table_version(path)
    target = _read_logical(spark, path)  # __row_id rides through updates
    hit = F.coalesce(cond, F.lit(False))
    updated = target.withColumns(
        {
            name: F.when(hit, expr).otherwise(F.col(name))
            for name, expr in assignments.items()
        }
    )
    changes = None
    if _cdf_on(marker):
        pre = target.filter(hit)
        post = pre.withColumns(dict(assignments))
        changes = pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            post.withColumn("_change_type", F.lit("update_postimage"))
        )
    commit_overwrite(
        updated,
        path,
        marker.get("keys", []),
        marker.get("partition_by", []),
        max_history,
        expected_version=base_version,
        changes=changes,
        _live_schema=target.schema,
    )


def _update_where_dv(
    spark: SparkSession, path: str, cond, assignments: dict, max_history: int
) -> None:
    """DV-backed UPDATE commit (see :func:`update_where`): merged
    vector = old vector + matched positions; post-images appended as
    new files; everything else hardlinked. Same staging/swap/recover
    protocol as the DV delete."""
    marker, logical, phys_types = _dv_live_scan(spark, path)
    pending = set(marker.get("added_columns", {})) & set(assignments)
    if pending:
        raise ValueError(
            f"update_where(deletion_vectors=True): columns {sorted(pending)} "
            "are pending ADD COLUMNs with no physical slot — the appended "
            "post-image files keep the snapshot's physical schema, so the "
            "assignment would be silently lost. Use a rewriting UPDATE "
            "(deletion_vectors=False), which materializes the column."
        )
    with _Staging(path) as st:
        # matched feeds the constraint agg, the CDF pre/post record (two
        # union arms), the post-image append AND the position write — up
        # to five executions of the full scan+anti-join+filter lineage.
        # Cache it for the commit's scope (one scan — guide §2.4).
        matched = st.persist(logical.filter(F.coalesce(cond, F.lit(False))))
        post = _fill_derived(
            matched.drop(_DV_FILE_COL, _DV_IDX_COL).withColumns(
                dict(assignments)
            ),
            marker.get("generated", {}),
        )
        # post-image delta only: untouched rows passed at their commit
        _probe_staged(lambda: post, "update", marker.get("constraints", {}))
        # appended files must match the snapshot's PHYSICAL schema
        # exactly; the change record keeps the LOGICAL frame (same values
        # — the cast only renames/retypes to physical — PLUS any pending
        # ADD COLUMN the physical schema has no slot for yet)
        post_logical = post
        mapping = marker.get("column_mapping", {})
        back = {log: phys for log, phys in mapping.items() if log in post.columns}
        if back:
            post = post.withColumnsRenamed(back)
        post = post.select(
            *[F.col(c).cast(t) for c, t in phys_types.items()]
        )
        _link_snapshot_files(path, st.dir)
        if _cdf_on(marker):
            pre = matched.drop(_DV_FILE_COL, _DV_IDX_COL).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            cdf_post = post_logical.withColumn(
                "_change_type", F.lit("update_postimage")
            )
            _write_cdf(pre.unionByName(cdf_post), st.dir)
        writer = post.write.mode("append")
        if marker.get("partition_by"):
            writer = writer.partitionBy(*marker["partition_by"])
        writer.parquet(st.dir)
        if not marker.get("partition_by"):
            # hardlinked files keep their basename-matched index entries;
            # only the appended post-image files need footer stats
            _refresh_staged_stats_manifest(st.dir, incremental=True)
        _dv_publish(
            spark, path, marker, st, matched, max_history, "UPDATE"
        )


# Bounded retries: each rebase restages O(appended) against the new
# snapshot; under an N-writer burst a loser needs at most N-1 retries,
# and the post-publish lock serialization makes livelock impossible.
_APPEND_REBASE_LIMIT = 20


def append_rows(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    max_history: int = 2,
    txn: dict | None = None,
    expected_version: int | None = None,
    extra_properties: dict | None = None,
) -> None:
    """Blind-APPEND commit with Delta's append-vs-append OCC semantics:
    concurrent blind appends COMMUTE. When the commit loses the
    version CAS, the loser inspects what landed in between (the
    ``last_rewrite_version`` watermark blind appends thread through
    their markers): if every intervening commit was itself a blind
    append, the whole append is re-staged against the new snapshot and
    retried — schema enforcement, constraints, PK probes, identity and
    row-id assignment all re-derive from the NEW live marker, so the
    rebase is a fresh append, not a file graft (identity/row-id
    collisions with the winner are impossible by construction). A
    REWRITING commit in the gap (merge/overwrite/delete/update) is a
    real conflict and still raises :class:`ConcurrentWriteError`, as
    does an explicit ``expected_version`` (the caller pinned a version;
    auto-rebase would defeat their CAS). N racing appenders therefore
    all commit, each batch exactly once — the behavior real Delta's
    logical conflict detection gives `mode("append")` writers.

    See :func:`_append_rows_once` for the single-attempt mechanics
    (staging layout, validations, marker bookkeeping)."""
    attempts = 0
    while True:
        token = _table_state_token(path)
        try:
            return _append_rows_once(
                spark, df, path, max_history, txn, expected_version,
                extra_properties,
            )
        except ConcurrentWriteError as e:
            base = getattr(e, "base_version", None)
            if expected_version is not None or base is None:
                raise
            attempts += 1
            if attempts >= _APPEND_REBASE_LIMIT:
                raise
            recover(path)
            if _last_rewrite_version(_read_marker(path)) > int(base):
                raise  # a rewrite landed in the gap — real conflict
            time.sleep(0.01 * attempts)  # brief backoff, then re-stage
        except Exception as e:
            # a concurrent SWAP (e.g. an autoCompact binpack, which
            # keeps the version but moves every file) can yank this
            # append's reads mid-staging — nothing committed, so a
            # full re-stage is plainly valid. Retried only for the
            # transient read shape AND when the (version, ts) state
            # token moved; anything else = real bug, re-raised.
            attempts += 1
            if (
                expected_version is not None
                or attempts >= _APPEND_REBASE_LIMIT
                or not _is_transient_read_error(e)
                or _table_state_token(path) == token
            ):
                raise
            recover(path)
            time.sleep(0.01 * attempts)


def _append_rows_once(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    max_history: int = 2,
    txn: dict | None = None,
    expected_version: int | None = None,
    extra_properties: dict | None = None,
) -> None:
    """Blind-APPEND commit (Delta ``df.write.format("delta")
    .mode("append").save(path)``): the new rows are written as fresh
    files into a staging dir whose EXISTING data files are hardlinks to
    the live snapshot — commit cost is O(appended data) + O(existing
    files) metadata, never the full-table rewrite every other commit
    here performs. At 100 TB this is THE hot ingest path: a day's
    partition lands without touching a byte of history.

    Everything the rewriting commits maintain holds identically:

    - crash-atomic stage-and-swap (the replaced snapshot retires into
      ``__history`` — time travel to pre-append keeps working; shared
      hardlinks are safe because snapshots are immutable);
    - schema ENFORCED against the table (missing or unknown columns
      refuse; appended files are cast to the exact physical schema so
      the snapshot never forks);
    - generated columns recomputed, identity slots filled above the
      high-water mark, row-tracking ids assigned (marker high-water
      advances from the appended files alone — O(appended));
    - CHECK constraints validated on the appended rows only (existing
      rows passed at their own commits); PRIMARY KEY probes appended
      keys against the live table AND within the batch;
    - CDF tables record the appended rows as an ``insert`` sidecar —
      the plain table stream (``managed_table_stream``) tails appends
      O(changes);
    - ``txn`` commits atomically with the data (exactly-once streaming
      append sinks: skip replayed epochs by ``table_txn``);
    - an ACTIVE deletion vector carries (appended file names are fresh,
      snapshot-relative DV keys stay valid);
    - ``appendOnly`` tables accept this commit — appending is exactly
      what the property licenses.

    Refuses while column renames/drops are pending (appended files/
    partition dirs would fork the physical schema — commit a rewrite to
    materialize first), and when the frame carries a pending ADD COLUMN
    (no physical slot yet; same rule as the DV update).
    """
    recover(path)
    marker = _read_marker(path)
    if not marker:
        raise ValueError(
            f"{path} is not a managed table — append_rows extends an "
            "existing table (commit_overwrite creates one)"
        )
    _check_writer(marker, path)
    if marker.get("column_mapping") or marker.get("dropped_columns"):
        raise ValueError(
            "append_rows: pending column renames/drops — appended files "
            "would fork the physical schema; commit a rewrite to "
            "materialize the mapping first"
        )
    pending = set(marker.get("added_columns", {})) & set(df.columns)
    if pending:
        raise ValueError(
            f"append_rows: columns {sorted(pending)} are pending ADD "
            "COLUMNs with no physical slot — the appended files keep the "
            "snapshot's physical schema, so the values would be silently "
            "lost. Run a rewriting commit to materialize the column first."
        )
    base_version = table_version(path)
    if expected_version is not None and base_version != expected_version:
        raise ConcurrentWriteError(
            f"{path}: expected version {expected_version}, live is "
            f"{base_version}; re-read and retry"
        )
    partition_by = tuple(marker.get("partition_by", ()) or ())
    phys_types = dict(_read_physical(spark, path).dtypes)
    gen_cols = marker.get("generated", {})
    id_cols = dict(marker.get("identity", {}))
    auto = set(gen_cols) | set(id_cols)
    props = dict(marker.get("properties") or {})
    if extra_properties:
        # committed ATOMICALLY with the appended data (marker is staged
        # last) — the idempotency substrate COPY INTO's loaded-file set
        # rides on; a crash between data and property can't happen
        props.update(extra_properties)
    tracking = _prop_on(props, _ROWTRACK_PROP) and _ROWID_COL in phys_types

    # ---- schema enforcement: the frame must carry exactly the table's
    # non-derived data columns (identity columns MAY be supplied)
    data_cols = [c for c in phys_types if c != _ROWID_COL]
    required = [c for c in data_cols if c not in auto]
    missing = [c for c in required if c not in df.columns]
    unknown = [c for c in df.columns if c not in data_cols]
    if missing or unknown:
        raise SchemaEnforcementError(
            f"append_rows to {path}: appended frame does not match the "
            f"table schema (missing: {missing}, unknown: {unknown}). "
            "Appends never evolve the schema — use commit_overwrite/"
            "merge_upsert(schema_evolution=True) for that."
        )

    row_hw = int(marker.get("row_tracking", {}).get("high_water", 0))
    out = _fill_derived(df, gen_cols, id_cols, row_hw if tracking else None)
    out = out.select(*[F.col(c).cast(t) for c, t in phys_types.items()])

    with _Staging(path) as st:
        staging = st.dir
        _link_snapshot_files(path, staging)
        if marker.get("dv"):
            # the vector carries VERBATIM (appended files are fresh names
            # — no stored position can reference them);
            # _link_snapshot_files skips _dv because DV commits write a
            # fresh merged vector
            dv_dst = os.path.join(staging, _DV_DIR)
            _fs().makedirs(dv_dst, exist_ok=True)
            for f in _fs().glob(os.path.join(path, _DV_DIR, "*")):
                if _fs().isfile(f):
                    _fs().link_or_copy(f, os.path.join(dv_dst, os.path.basename(f)))
        linked = set(_data_files(staging))
        writer = out.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        appended_files = sorted(set(_data_files(staging)) - linked)
        appended_rows, appended_schema = _footer_stats(appended_files)
        appended = (
            _scan(
                spark.read.option("basePath", staging),
                appended_schema,
                *appended_files,
            )
            if appended_files
            else None
        )
        # ---- validations run on the WRITTEN rows (one materialization —
        # monotonic ids must never be recomputed into different values):
        # the fused probe (CHECK, batch-internal PK dups, identity and
        # row-id high waters), then the one clash join vs the live keys
        key_list = list(marker.get("keys", []))
        pk = key_list if marker.get("unique_keys") else []
        if appended is not None:
            id_cols, row_hw = _probe_staged(
                lambda: appended,
                "append",
                marker.get("constraints", {}),
                pk=pk,
                identity=id_cols,
                row_hw=row_hw if tracking else None,
                pk_scope=" within the appended batch",
            )
            if pk:
                clash = (
                    appended.select(*pk)
                    .join(read(spark, path), on=pk, how="left_semi")
                    .limit(1)
                    .collect()
                )
                if clash:
                    raise ConstraintViolationError(
                        f"append violates PRIMARY KEY {pk}: key "
                        f"{tuple(clash[0])} already exists in the table; "
                        "appends never update — use merge_upsert"
                    )

        has_cdf = False
        if _cdf_on(marker) and appended is not None:
            _write_cdf(
                appended.withColumn("_change_type", F.lit("insert")),
                staging,
            )
            has_cdf = True
        if not partition_by:
            # hardlinked files keep their basename-matched index entries;
            # only the appended files need fresh footer stats
            _refresh_staged_stats_manifest(staging, incremental=True)

        n_dv = int(marker.get("dv", {}).get("n_rows", 0))
        prev_stats = marker.get("stats")
        if prev_stats is not None:
            # INCREMENTAL marker stats: previous commit's stats + the
            # appended files' footers — O(appended), never a walk of
            # the whole snapshot (measured r9: the full-walk version
            # made commit cost grow linearly with table file count,
            # O(N^2) over an append-driven table's life). The previous
            # stats are trusted the same way Delta trusts its log's
            # operationMetrics. n_rows in stats excludes DV-deleted
            # rows; the vector carries verbatim, so the exclusion is
            # unchanged (+ n_dv converts back to physical rows here,
            # the marker write below subtracts it again). The live
            # file_schema holds while the appended files agree with it
            # (an empty live snapshot takes theirs).
            live_schema = (
                marker.get("file_schema")
                if int(prev_stats["n_files"])
                else appended_schema
            )
            staged_stats = {
                "n_rows": int(prev_stats["n_rows"]) + n_dv + appended_rows,
                "n_files": int(prev_stats["n_files"]) + len(appended_files),
                "bytes": int(prev_stats["bytes"])
                + sum(_fs().getsize(f) for f in appended_files),
                "file_schema": live_schema
                if not appended_files or appended_schema == live_schema
                else None,
            }
        else:  # legacy marker without stats: one full footer walk
            staged_stats = _snapshot_stats(staging, marker.get("file_schema"))
        extra: dict = {
            "operation": "append",
            # blind appends never rewrite data: thread the watermark of
            # the last rewriting commit forward so a racing appender can
            # prove its rebase window is append-only (_last_rewrite_version)
            "last_rewrite_version": _last_rewrite_version(marker),
            "stats": {
                **staged_stats,
                "n_rows": int(staged_stats["n_rows"]) - n_dv,
            },
        }
        if has_cdf:
            extra["has_cdf"] = True
        if _prop_on(props, _ROWTRACK_PROP):
            extra["row_tracking"] = {"high_water": int(row_hw)}
        if marker.get("schema_json") and int(staged_stats["n_files"]) == 0:
            extra["schema_json"] = marker["schema_json"]  # still empty
        _stage_marker(
            staging,
            marker,
            "append",
            version=base_version + 1,
            txn=txn,
            extra=extra,
            partition_by=partition_by,
            identity=id_cols,
            properties=props,
        )
        st.publish(True, base_version + 1, max_history, base_version, spark)
    if not partition_by:
        _auto_optimize(spark, path, props)
    ac = props.get("autoCompact")
    if (
        _prop_on(props, "autoCompact")
        and not partition_by
        and not marker.get("dv")
    ):
        # Delta autoCompact: continuous appends accrete one small file
        # set per commit — when the property's file-count threshold is
        # crossed, binpack the small files in a data-preserving follow-up
        # (version/txn carried, so exactly-once sinks never replay).
        # The count probe is the marker stats — zero listing. A racing
        # append aborts the binpack's swap, never the append.
        min_files = int(ac.get("min_files", 16)) if isinstance(ac, dict) else 16
        if int(_read_marker(path).get("stats", {}).get("n_files", 0)) >= min_files:
            from .maintenance import compact_binpack

            _deferred_maintenance(path, lambda: compact_binpack(spark, path))


def write_or_merge(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
) -> str:
    """The reference's initial-load-vs-upsert branch
    (01_silver_delta_upsert.py:99-121). Returns which path was taken."""
    if is_table(spark, path):
        merge_upsert(spark, path, df, keys, partition_by)
        return "merged"
    initial_write(df, path, partition_by, keys)
    return "initial"


def restore_table(
    spark: SparkSession, path: str, version: int, max_history: int = 2
) -> dict:
    """Delta ``RESTORE TABLE t TO VERSION AS OF k``: roll the table's
    CONTENT back to snapshot ``version`` as a NEW commit — history
    moves forward, never rewinds, so the pre-restore state is itself
    retained and a mistaken restore can be restored away again. The
    restore commits through the standard stage-and-swap, which means it
    is crash-atomic, enforces the live CHECK constraints against the
    restored snapshot, recomputes generated columns, and records
    ``txn={"restore_of": k}`` as commit provenance. Identity high-water
    marks do NOT rewind (monotonic max in ``commit_overwrite``) — rows
    created after version k keep their ids reserved forever, exactly
    Delta's behavior.

    The snapshot is read from ``<path>__history/`` (bounded by each
    commit's ``max_history``) and fully staged BEFORE any swap, so
    restoring even the about-to-be-pruned oldest snapshot is safe.
    Returns {"restored_version", "new_version"}."""
    marker = _live_marker(path)
    _check_append_only(marker, "RESTORE")
    # _read_logical: a restored row keeps the stable id it had in the
    # restored snapshot (Delta RESTORE preserves row ids); the
    # high-water mark stays monotonic across the rollback
    df = _read_logical(spark, path, version=version)
    changes = None
    if _cdf_on(marker):
        # Delta records RESTORE in the change feed as the row diff
        # between the pre-restore and restored snapshots — exactly what
        # read_changes computes, keyed so updates get pre/post images
        changes = read_changes(
            spark,
            path,
            from_version=table_version(path),
            to_version=version,
            keys=marker.get("keys") or None,
        )
    commit_overwrite(
        df,
        path,
        keys=marker.get("keys", ()),
        partition_by=marker.get("partition_by", ()),
        max_history=max_history,
        txn={"restore_of": int(version)},
        changes=changes,
        # the restored snapshot may predate a schema evolution; RESTORE
        # reinstating the old schema is the documented Delta behavior
        schema_mode="overwrite",
    )
    return {
        "restored_version": int(version),
        "new_version": table_version(path),
    }


def table_generated_columns(path: str) -> dict:
    """Active generated-column definitions: {name: sql_expr}."""
    recover(path)
    return _read_marker(path).get("generated", {})


def table_identity_columns(path: str) -> dict:
    """Active identity-column specs: {name: {start, step, high_water}}."""
    recover(path)
    return _read_marker(path).get("identity", {})


def clone_table(src_path: str, dst_path: str) -> dict:
    """Zero-copy SHALLOW CLONE (Delta ``CREATE TABLE dst CLONE src``):
    the clone is a new independent table whose data files are
    HARDLINKS to the source snapshot's — metadata-cost creation no
    matter the table size, with full read/write independence
    afterwards because snapshots are immutable (every commit writes
    fresh files and swaps directories; nothing is ever modified in
    place, so shared links can never see a writer's bytes). Dropping
    either table leaves the other's files intact — the filesystem's
    link count is the emulation's file-retention refcount, playing the
    role of Delta's "clone references source files until VACUUM".

    Constraints, generated-column, and identity definitions carry over;
    version restarts at 0 with ``cloned_from`` provenance in the
    marker (history does NOT carry over — same as Delta, where a clone
    starts a fresh transaction log). Crash-safe via the standard
    staging protocol: the marker is linked last, so an interrupted
    clone is an inert marker-less staging dir. Falls back to ``copy2``
    across filesystems. Returns {files_linked, source_version}.

    On an object store the same operation is a manifest that lists the
    source files under the new table's log — identical semantics, no
    byte copies either way."""
    recover(src_path)
    marker = _read_marker(src_path)
    if not marker:
        raise ValueError(f"{src_path} is not a managed table")
    if _fs().exists(dst_path):
        raise ValueError(f"clone destination {dst_path} already exists")
    tag = uuid.uuid4().hex[:8]
    staging = f"{dst_path}__staging_{tag}"
    # the clone starts a fresh log (version 0): the source's
    # change-data sidecar describes the SOURCE's last commit, not
    # anything that happened to the clone
    n_files = _link_snapshot_files(src_path, staging, skip=(_CDF_DIR,))
    src_version = int(marker.get("version", 0))
    new_marker = {
        **marker,
        "version": 0,
        "ts": time.time(),
        "txn": {},
        "cloned_from": {
            "path": os.path.abspath(src_path),
            "version": src_version,
        },
    }
    new_marker.pop("has_cdf", None)
    _stamp_features(new_marker)  # canonical for the CLONE's content
    _fs().write_atomic(os.path.join(staging, _MARKER), json.dumps(new_marker))
    _fs().rename_dir(staging, dst_path)
    return {"files_linked": n_files, "source_version": src_version}


def append_partitioned(
    df: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> None:
    """Append-only audit sink (exception/quarantine parquet,
    01_silver_delta_upsert.py:125-129). Re-runs intentionally duplicate
    rows (reference quirk Q6)."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def table_detail(path: str) -> dict:
    """``DESCRIBE DETAIL`` analogue: one metadata-only dict describing
    the live table — version, commit ts, row/file/byte counts (from the
    ``stats`` the commit recorded in its marker: a pure marker read,
    no file listing, zero Spark jobs; pre-stats markers fall back to
    one dirent/footer pass), keys, partitioning, constraint/
    generated/identity declarations, and which skipping indexes exist."""
    marker = _live_marker(path)
    stats = marker.get("stats") or _snapshot_stats(path)
    return {
        "path": path,
        "version": int(marker.get("version", 0)),
        "ts": float(marker.get("ts", 0.0)),
        "num_rows": int(stats["n_rows"]),
        "num_files": int(stats["n_files"]),
        "size_bytes": int(stats["bytes"]),
        "keys": list(marker.get("keys", [])),
        "partition_by": list(marker.get("partition_by", [])),
        "constraints": dict(marker.get("constraints", {})),
        "generated_columns": sorted(marker.get("generated", {})),
        "identity_columns": sorted(marker.get("identity", {})),
        "unique_keys": bool(marker.get("unique_keys", False)),
        # rows the live deletion vector hides (0 = no DV; Delta DESCRIBE
        # DETAIL surfaces the same via numDeletionVectors/...)
        "deletion_vector_rows": int(marker.get("dv", {}).get("n_rows", 0)),
        "properties": dict(marker.get("properties", {})),
        "has_change_data": bool(marker.get("has_cdf", False)),
        # protocol negotiation surface (Delta DESCRIBE DETAIL lists
        # minReaderVersion/minWriterVersion/tableFeatures the same way)
        "reader_features": list(marker.get("reader_features", [])),
        "writer_features": list(marker.get("writer_features", [])),
        "row_tracking_high_water": int(
            marker.get("row_tracking", {}).get("high_water", 0)
        ),
        "stats_manifest": _fs().exists(
            os.path.join(path, "_stats_manifest.json")
        ),
        "bloom_manifest": _fs().exists(
            os.path.join(path, "_bloom_manifest.json")
        ),
        "retained_versions": list_versions(path),
    }


def convert_to_managed(
    spark: SparkSession,
    path: str,
    keys: Sequence[str] = (),
    partition_by: Sequence[str] = (),
) -> dict:
    """``CONVERT TO DELTA`` analogue: adopt an EXISTING plain-parquet
    directory as a managed table IN PLACE — no data rewrite, no copy;
    the commit protocol only needs the marker, which is written (fsync,
    atomic replace) into the directory as version 0. The first
    post-conversion DML then runs the full stage-and-swap like any
    other table. Refuses directories that are already managed (convert
    is not idempotent-overwrite: it would reset version/txn state).

    ``partition_by`` declares the Hive partitioning of the EXISTING
    layout (Delta's ``CONVERT TO DELTA ... PARTITIONED BY`` — the
    directory names are the only record of it, so the caller must say);
    it is validated against the inferred schema and recorded in the
    marker so later rewrites preserve the layout."""
    if not _fs().isdir(path):
        raise ValueError(f"{path} is not a directory")
    if _fs().exists(os.path.join(path, _MARKER)):
        raise ValueError(f"{path} is already a managed table")
    # sanity: it must actually hold parquet (schema readable), and the
    # declared partition columns must be real (partition-dir inferred)
    inferred = spark.read.parquet(path).schema
    schema_cols = set(inferred.names)
    missing = [c for c in partition_by if c not in schema_cols]
    if missing:
        raise ValueError(
            f"convert_to_managed: partition column(s) {missing} not found "
            f"in the directory's inferred schema ({sorted(schema_cols)})"
        )
    # record what was just inferred: its data columns are the file
    # schema (partition columns, every ``col=`` directory level, come
    # from the names), and the marker write's footer walk serves it for
    # files that hold no Spark row schema
    dir_cols = {
        seg.split("=", 1)[0]
        for f in _data_files(path)
        for seg in os.path.relpath(os.path.dirname(f), path).split(os.sep)
        if "=" in seg
    }
    file_schema = StructType([f for f in inferred.fields if f.name not in dir_cols])
    _write_marker(
        path, tuple(keys), tuple(partition_by),
        extra={"file_schema": file_schema.json()},
    )
    return table_detail(path)


# -- DataFrameWriter-shaped builder ----------------------------------------


class ManagedWriter:
    """Driver-side writer builder restoring the reference's write idiom
    (``/root/reference/glue_jobs/01_silver_delta_upsert.py:115-121``):

        managed_table.write(df).mode("overwrite") \\
            .partitionBy("year", "month").save(path)

    Every call runs ON THE DRIVER and delegates to the engine's commit
    protocol (:func:`commit_overwrite` / :func:`append_rows`) — unlike
    a Python ``DataSource`` writer, whose ``commit()`` executes in a
    worker with no SparkSession and cannot run the protocol (prototyped
    and dropped, see CLAUDE.md r8). Save modes match Spark's
    DataFrameWriter: ``errorifexists`` (default), ``overwrite``,
    ``append`` (creates the table when absent, like Delta), ``ignore``.

    Engine extensions: ``.keys(...)`` records merge/PK keys in the
    marker; ``.option("maxHistory", n)`` bounds time travel;
    ``.saveAsTable(name)`` resolves/creates through the txn-catalog
    name registry (the metastore analogue)."""

    def __init__(self, df: DataFrame):
        self._df = df
        self._mode = "errorifexists"
        self._partition_by: tuple = ()
        self._keys: tuple = ()
        self._options: dict = {}

    def format(self, fmt: str) -> "ManagedWriter":
        if fmt not in ("delta", "managed_table", "parquet"):
            raise ValueError(
                f"write(df).format({fmt!r}): the managed writer commits "
                "parquet snapshots ('delta' | 'managed_table' | 'parquet')"
            )
        return self

    def mode(self, m: str) -> "ManagedWriter":
        canon = {
            "overwrite": "overwrite",
            "append": "append",
            "error": "errorifexists",
            "errorifexists": "errorifexists",
            "ignore": "ignore",
        }.get(m.lower())
        if canon is None:
            raise ValueError(f"unknown save mode {m!r}")
        self._mode = canon
        return self

    def partitionBy(self, *cols) -> "ManagedWriter":
        self._partition_by = tuple(
            c for group in cols
            for c in (group if isinstance(group, (list, tuple)) else [group])
        )
        return self

    def keys(self, *cols: str) -> "ManagedWriter":
        self._keys = tuple(cols)
        return self

    def option(self, key: str, value) -> "ManagedWriter":
        self._options[key] = value
        return self

    def options(self, **kv) -> "ManagedWriter":
        self._options.update(kv)
        return self

    def save(self, path: str) -> None:
        recover(path)
        exists = is_table(self._df.sparkSession, path)
        max_history = int(self._options.get("maxHistory", 2))
        txn = self._options.get("txn")
        if self._mode == "ignore" and exists:
            return
        if self._mode == "errorifexists" and exists:
            raise ValueError(
                f"{path} already exists (mode errorifexists — the "
                "DataFrameWriter default); use mode('overwrite') or "
                "mode('append')"
            )
        if self._mode == "append" and exists:
            marker = _read_marker(path)
            declared = tuple(marker.get("partition_by", ()) or ())
            if self._partition_by and tuple(self._partition_by) != declared:
                raise ValueError(
                    f"append partitionBy{self._partition_by} does not match "
                    f"the table's layout {declared} — appends never "
                    "re-partition (overwrite to change layout)"
                )
            merge_schema = str(
                self._options.get("mergeSchema", "false")
            ).lower() in ("true", "1")
            table_cols = set(read(self._df.sparkSession, path).columns)
            new_cols = [c for c in self._df.columns if c not in table_cols]
            if new_cols and merge_schema:
                self._append_evolving(path, max_history, txn)
                return
            append_rows(
                self._df.sparkSession, self._df, path,
                max_history=max_history, txn=txn,
            )
            return
        commit_overwrite(
            self._df, path, keys=self._keys,
            partition_by=self._partition_by, max_history=max_history,
            txn=txn,
        )

    def _append_evolving(self, path: str, max_history: int, txn) -> None:
        """``mode("append").option("mergeSchema", "true")`` with NEW
        columns (Delta's append schema evolution): the engine's
        snapshot model reads one parquet footer per snapshot, so a
        mixed-schema hardlink append could serve a nondeterministic
        schema — evolution therefore commits as a UNION REWRITE
        (existing ∪ appended, allowMissingColumns), version-pinned and
        auto-retried like every other read-modify-write. O(table), not
        O(appended) — documented cost of evolving outside MERGE; plain
        appends (no new columns) stay on the O(appended) hot path.
        Refused on row-tracking tables (the rewrite path that preserves
        ids is MERGE ``withSchemaEvolution``)."""
        spark = self._df.sparkSession
        if _prop_on(_read_marker(path).get("properties"), _ROWTRACK_PROP):
            raise ValueError(
                "mergeSchema append on a row-tracking table: use the "
                "merge facade's withSchemaEvolution, which preserves "
                "row ids through the rewrite"
            )

        def _once():
            marker = _read_marker(path)
            base_v = table_version(path)
            union = read(spark, path).unionByName(
                self._df, allowMissingColumns=True
            )
            commit_overwrite(
                union,
                path,
                keys=marker.get("keys", ()),
                partition_by=marker.get("partition_by", ()),
                max_history=max_history,
                txn=txn,
                expected_version=base_v,
                schema_mode="overwrite",  # evolution INTENDS the change
            )

        _retry_dml(_once, path)

    def saveAsTable(self, name: str, registry_dir: str | None = None) -> str:
        """Name-first save through the txn-catalog registry: an already
        bound name saves to its path; an unbound one is created under
        the registry's managed warehouse and registered (put-if-absent,
        so two concurrent creators cannot split-brain the name).
        Returns the resolved path."""
        from . import txn_catalog
        from .delta_api import _registry_dir

        registry = _registry_dir(self._df.sparkSession, registry_dir)
        try:
            path = txn_catalog.resolve_table_name(registry, name)
        except txn_catalog.TableNameError:
            path = os.path.join(registry, "tables", name)
            self.save(path)
            txn_catalog.register_table_name(registry, name, path)
            return path
        self.save(path)
        return path


def write(df: DataFrame) -> ManagedWriter:
    """Entry point of the writer-shaped API: see :class:`ManagedWriter`."""
    return ManagedWriter(df)
