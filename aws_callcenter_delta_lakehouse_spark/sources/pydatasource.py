"""Python Data Source API (Spark 4): a custom batch source the engine
registers like any built-in format — the extension point for reading
systems Spark has no connector for (internal doc stores, feature
services) without leaving the DataFrame surface.

The example source generates deterministic synthetic documents with
real partition planning (``partitions()`` -> one ``InputPartition`` per
shard, each read independently by an executor), so the scan
parallelizes exactly like a file source.

The classes are defined INSIDE the factory: cloudpickle then serializes
them BY VALUE, so executors never import this package (Python workers
do not inherit the driver's sys.path — learned round 1)."""

from __future__ import annotations


def make_synthetic_docs_source():
    """Return a self-contained DataSource class for
    ``spark.dataSource.register``; read back with
    ``spark.read.format("synthetic_docs").option("numdocs", N)
    .option("partitions", P).load()``."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _Reader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("numdocs", 100))
            self.parts = int(options.get("partitions", 4))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            shard = partition.value
            # round-robin shard ownership: deterministic, disjoint, and
            # every doc_id in [0, n) appears exactly once across shards
            for doc_id in range(shard, self.n, self.parts):
                yield (
                    doc_id,
                    shard,
                    f"synthetic document {doc_id} body word{doc_id % 7}",
                )

    class SyntheticDocs(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_docs"

        def schema(self):
            return "doc_id BIGINT, shard INT, text STRING"

        def reader(self, schema):
            return _Reader(self.options)

    return SyntheticDocs


def make_synthetic_stream_source():
    """Return a self-contained STREAMING DataSource class (Spark 4
    ``DataSourceStreamReader``) — the extension point for streaming
    systems Spark has no connector for, with real offset tracking and
    per-partition planning (one ``InputPartition`` per shard and batch
    range, read independently by executors, exactly like a Kafka
    topic-partition).

    Offsets are ``{"batch": N}``. ``latestOffset`` reports the end of
    AVAILABLE data (``maxbatches``) — never per-reader-instance state:
    offsets must be derivable from the external system alone, because
    on restart Spark hands the restored offset to ``partitions()`` but
    a fresh reader object answers ``latestOffset()``; a reader-local
    counter would restart behind the checkpoint and re-emit committed
    batches (verified the hard way in the resume test). Register and
    read back with
    ``spark.readStream.format("synthetic_stream").option(...)``."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _StreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.rows_per_batch = int(options.get("rowsperbatch", 10))
            self.parts = int(options.get("partitions", 2))
            self.max_batches = int(options.get("maxbatches", 3))

        def initialOffset(self):
            return {"batch": 0}

        def latestOffset(self):
            # the "external system's" current end — stateless in the
            # reader, stable across restarts
            return {"batch": self.max_batches}

        def partitions(self, start, end):
            return [
                InputPartition((shard, start["batch"], end["batch"]))
                for shard in range(self.parts)
            ]

        def read(self, partition):
            shard, lo, hi = partition.value
            # executors own disjoint row ranges per batch; ids are
            # globally unique and deterministic across retries
            for batch in range(lo, hi):
                for i in range(shard, self.rows_per_batch, self.parts):
                    yield (batch, shard, batch * self.rows_per_batch + i)

        def commit(self, end):
            pass

    class SyntheticStream(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_stream"

        def schema(self):
            return "batch INT, shard INT, event_id BIGINT"

        def streamReader(self, schema):
            return _StreamReader(self.options)

    return SyntheticStream


def make_table_changes_stream_source():
    """Return a STREAMING DataSource over a managed table's change data
    feed — the Delta ``readStream ... option("readChangeFeed")``
    analogue: ``spark.readStream.format("table_changes_stream")
    .option("path", t).option("startingversion", k)`` tails the
    ``_change_data`` sidecars that CDF-enabled DML commits record
    (``managed_table.table_changes`` is the batch reader of the same
    feed).

    Offsets are ``{"version": N}`` — the table version IS the stream
    position, derived from the live marker alone (never reader-local
    state: on restart a fresh reader answers ``latestOffset`` while
    Spark replays the checkpointed start offset into ``partitions``).
    Each microbatch plans one ``InputPartition`` per sidecar FILE of
    the versions in ``(start, end]``, so executors read change files
    in parallel exactly like a file source; rows carry
    ``_commit_version``/``_commit_timestamp``. A version in range
    without a recorded sidecar fails the stream (the same contract as
    the batch reader and Delta: no silent holes), and versions must
    still be retained — a CDC stream must keep up within the table's
    ``max_history``/vacuum window, exactly Delta's retention coupling.

    Scale shape: driver work is marker reads + one sidecar listing per
    microbatch (O(versions advanced)); all row I/O is executor-side
    pyarrow over the change files — O(changes), never a table scan."""
    import glob as _glob
    import json as _json
    import os as _os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    _MARKER = "_engine_table.json"
    _CDF = "_change_data"

    def _marker(snap):
        p = _os.path.join(snap, _MARKER)
        if not _os.path.exists(p):
            return {}
        with open(p) as f:
            return _json.loads(f.read())

    def _snap_dir(path, v):
        live = int(_marker(path).get("version", 0))
        return (
            path
            if v == live
            else _os.path.join(f"{path}__history", f"v{v:06d}")
        )

    class _CdfStreamReader(DataSourceStreamReader):
        def __init__(self, options, pa_schema):
            self.path = options["path"]
            self.start = options.get("startingversion")
            # the DECLARED schema as arrow types (computed driver-side;
            # workers have no SparkSession): sidecar files across
            # versions may order (or, under schema evolution, miss)
            # columns differently — read() aligns to this, not the
            # file's layout
            self.pa_schema = pa_schema

        def initialOffset(self):
            if self.start is not None:
                # startingversion means "changes FROM this version on",
                # i.e. the exclusive offset is one below it
                return {"version": int(self.start) - 1}
            # default: tail from now — only versions committed after
            # the stream starts (Delta's default for new CDF streams)
            return {"version": int(_marker(self.path).get("version", 0))}

        def latestOffset(self):
            return {"version": int(_marker(self.path).get("version", 0))}

        def partitions(self, start, end):
            parts = []
            for v in range(start["version"] + 1, end["version"] + 1):
                snap = _snap_dir(self.path, v)
                m = _marker(snap)
                if not m:
                    raise ValueError(
                        f"version {v} of {self.path} is no longer "
                        "retained — the CDC stream fell behind the "
                        "table's history window"
                    )
                if not m.get("has_cdf"):
                    raise ValueError(
                        f"version {v} of {self.path} has no change-data "
                        "sidecar (committed before enableChangeDataFeed "
                        "or by a generic overwrite)"
                    )
                ts = float(m.get("ts", 0.0))
                files = sorted(
                    _glob.glob(_os.path.join(snap, _CDF, "*.parquet"))
                )
                parts.extend(
                    InputPartition((f, v, ts)) for f in files
                )
            # a zero-change advance (all-scrubbed sidecar) still needs
            # one no-op partition or Spark refuses the empty plan
            return parts or [InputPartition((None, 0, 0.0))]

        def read(self, partition):
            # rows cross the JVM boundary as ARROW RECORD BATCHES, not
            # pickled tuples (guide §4.1): columns re-slice/cast
            # columnar-side, the two per-commit constants synthesize as
            # constant arrays — O(changes) stays, the per-row pickle
            # tax goes
            fpath, version, ts = partition.value
            if fpath is None:
                return
            import pyarrow as pa
            import pyarrow.parquet as _pq

            table = _pq.read_table(fpath)
            names = set(table.schema.names)
            n = table.num_rows
            arrays = []
            for field in self.pa_schema:
                if field.name == "_commit_version":
                    arrays.append(pa.repeat(version, n).cast(field.type))
                elif field.name == "_commit_timestamp":
                    arrays.append(pa.repeat(ts, n).cast(field.type))
                elif field.name in names:
                    col = table.column(field.name)
                    arrays.append(
                        col if col.type == field.type else col.cast(field.type)
                    )
                else:
                    # a sidecar written before a schema evolution misses
                    # the column: align to the DECLARED schema (the row
                    # path's r.get(c) -> None, columnar)
                    arrays.append(pa.nulls(n, type=field.type))
            yield from pa.table(arrays, schema=self.pa_schema).to_batches()

        def commit(self, end):
            pass

    class TableChangesStream(DataSource):
        @classmethod
        def name(cls):
            return "table_changes_stream"

        def schema(self):
            # driver-side: derive the DDL from one recorded sidecar's
            # parquet schema (the feed's schema is the table's data
            # columns + _change_type), plus the per-commit columns
            import pyarrow.parquet as _pq

            path = self.options["path"]
            live = int(_marker(path).get("version", 0))
            for v in range(live, -1, -1):
                snap = _snap_dir(path, v)
                if not _marker(snap).get("has_cdf"):
                    continue
                files = sorted(
                    _glob.glob(_os.path.join(snap, _CDF, "*.parquet"))
                )
                if not files:
                    continue
                pa_schema = _pq.read_schema(files[0])
                ddl_types = {
                    "int64": "bigint",
                    "int32": "int",
                    "double": "double",
                    "float": "float",
                    "string": "string",
                    "large_string": "string",
                    "bool": "boolean",
                    "date32[day]": "date",
                    "timestamp[us]": "timestamp",
                    "timestamp[ns]": "timestamp",
                }
                cols = []
                for field in pa_schema:
                    t = ddl_types.get(str(field.type))
                    if t is None:
                        raise ValueError(
                            f"table_changes_stream: unsupported sidecar "
                            f"column type {field.type} for {field.name}"
                        )
                    cols.append(f"`{field.name}` {t}")
                cols.append("`_commit_version` int")
                cols.append("`_commit_timestamp` double")
                return ", ".join(cols)
            raise ValueError(
                f"{path}: no change-data sidecar found in any retained "
                "version — enable CDF and commit at least once before "
                "starting the stream"
            )

        def streamReader(self, schema):
            from pyspark.sql.pandas.types import to_arrow_schema

            return _CdfStreamReader(self.options, to_arrow_schema(schema))

    return TableChangesStream


def make_table_stream_source():
    """Return a STREAMING DataSource serving a managed table's ROWS —
    the Delta ``spark.readStream.format("delta")`` analogue (the plain
    table stream, vs :func:`make_table_changes_stream_source` which is
    ``readChangeFeed``): the FULL snapshot at stream start forms the
    first microbatch, then each later version contributes its INSERTED
    rows, identified O(changes) from the version's ``_change_data``
    sidecar.

    Delta's append-only streaming contract is mirrored exactly
    (``DeltaSource`` refuses data updates with "Detected a data update
    ... This is currently not supported"):

    - a tailed version containing updates/deletes FAILS the stream by
      default;
    - ``.option("skipchangecommits", "true")`` skips such commits
      entirely (Delta ``skipChangeCommits``);
    - ``.option("ignorechanges", "true")`` additionally streams update
      POST-IMAGES as new rows and drops deletes (Delta ``ignoreChanges``
      replays whole rewritten files — the CDF post-image set is the
      precise row-level version of the same semantic).
    - ``.option("startingversion", V | "latest")``: an int serves the
      snapshot AT version V first (must still be retained), then tails
      V+1 onwards; ``"latest"`` skips the snapshot and tails only
      commits after stream start (Delta ``startingVersion: latest``).

    Protocol coupling, stated loudly instead of silently mis-served:
    the tail needs ``enableChangeDataFeed`` (this engine's commits are
    full snapshots — without the sidecar, a version's new rows are not
    identifiable in O(changes); Delta gets this from its add-file log),
    a snapshot with an ACTIVE deletion vector refuses (a raw file read
    would resurrect soft-deleted rows — run materialize_deletes), and
    pending column renames/drops refuse (commit a rewrite first).
    Pending ADD COLUMN defaults ARE synthesized.

    PARTITIONED tables stream too (round 10; a 100 TB table is always
    partitioned): partition columns are synthesized from the Hive dir
    names when serving snapshot files — types inferred per Spark's
    partition-inference ladder (int, double, date, else string), values
    parsed driver-side at planning time and carried in each
    ``InputPartition`` — and come back as ordinary columns from the
    change sidecar when tailing (the sidecar is written unpartitioned,
    so they are data columns there). Column order matches the batch
    read of a partitioned snapshot: data columns, then partition
    columns, then pending ADD COLUMNs.

    Scale shape: driver work per microbatch = marker reads + one
    sidecar listing + one ``_change_type``-column read (O(changes));
    all row I/O is executor-side pyarrow, one input partition per
    snapshot/sidecar file."""
    import glob as _glob
    import json as _json
    import os as _os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    _MARKER = "_engine_table.json"
    _CDF = "_change_data"
    _ROWID = "__row_id"

    def _marker(snap):
        p = _os.path.join(snap, _MARKER)
        if not _os.path.exists(p):
            return {}
        with open(p) as f:
            return _json.loads(f.read())

    def _snap_dir(path, v):
        live = int(_marker(path).get("version", 0))
        return (
            path if v == live
            else _os.path.join(f"{path}__history", f"v{v:06d}")
        )

    def _data_files(snap):
        """Data files of a snapshot, Hive layout included; sidecar /
        export dirs (underscore-prefixed components) excluded."""
        out = []
        for f in sorted(
            _glob.glob(
                _os.path.join(snap, "**", "*.parquet"), recursive=True
            )
        ):
            rel = _os.path.relpath(f, snap)
            if any(p.startswith("_") for p in rel.split(_os.sep)[:-1]):
                continue
            out.append(f)
        return out

    def _pval_type(raw: str) -> str:
        """Spark's partition-value type-inference ladder (the common
        rungs): int32 -> double -> ISO date -> string."""
        try:
            v = int(raw)
            return "int" if -(2**31) <= v < 2**31 else "bigint"
        except ValueError:
            pass
        try:
            float(raw)
            return "double"
        except ValueError:
            pass
        import datetime as _dt

        try:
            _dt.date.fromisoformat(raw)
            return "date"
        except ValueError:
            return "string"

    def _unify_pval_type(raws) -> str:
        """The ladder applied across ALL observed dir values of one
        partition column (Spark scans every partition value before
        typing; inferring from the first file alone crashed the worker
        when a later dir's value didn't parse as the first one's type —
        `part=1` sorts before `part=x`, int(\"x\") throws). Numerics
        promote int -> bigint -> double; date merges only with date;
        any other mix (or all-NULL) falls back to string."""
        _NUM = {"int": 0, "bigint": 1, "double": 2}
        best: str | None = None
        for raw in raws:
            if raw is None:
                continue
            t = _pval_type(raw)
            if best is None or best == t:
                best = t
            elif best in _NUM and t in _NUM:
                best = t if _NUM[t] > _NUM[best] else best
            else:
                return "string"
        return best or "string"

    def _typed_pval(raw, ddl: str):
        import datetime as _dt
        from urllib.parse import unquote as _unquote

        if raw is None:
            return None
        raw = _unquote(raw)
        if ddl in ("int", "bigint"):
            return int(raw)
        if ddl == "double":
            return float(raw)
        if ddl == "date":
            return _dt.date.fromisoformat(raw)
        return raw

    def _file_pvals(snap: str, fpath: str) -> dict:
        """{partition column: raw dir value} parsed from the file's
        Hive path components (relative to the snapshot root)."""
        rel = _os.path.relpath(fpath, snap)
        pvals = {}
        for comp in rel.split(_os.sep)[:-1]:
            col, _eq, raw = comp.partition("=")
            pvals[col] = (
                None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
            )
        return pvals

    _DDL_TYPES = {
        "int64": "bigint",
        "int32": "int",
        "double": "double",
        "float": "float",
        "string": "string",
        "large_string": "string",
        "bool": "boolean",
        "date32[day]": "date",
        "timestamp[us]": "timestamp",
        "timestamp[ns]": "timestamp",
    }

    def _logical_cols(path):
        """[(name, ddl_type, default-or-None)] of the table's logical
        data columns — from the marker-held schema when the table is
        empty (schema-in-log), else one parquet footer."""
        m = _marker(path)
        if not m:
            raise ValueError(f"{path} is not a managed table")
        if m.get("column_mapping") or m.get("dropped_columns"):
            raise ValueError(
                "managed_table_stream: pending column renames/drops — "
                "commit a rewrite to materialize them before streaming"
            )
        partition_by = list(m.get("partition_by", ()) or ())
        cols = []
        if m.get("schema_json"):
            # schema-in-log records partition columns LAST already
            for f in _json.loads(m["schema_json"])["fields"]:
                if not isinstance(f["type"], str):
                    raise ValueError(
                        f"managed_table_stream: unsupported nested type "
                        f"for column {f['name']}"
                    )
                cols.append((f["name"], f["type"], None))
        else:
            files = _data_files(path)
            if not files:
                raise ValueError(
                    f"{path}: no data files and no marker-held schema"
                )
            import pyarrow.parquet as _pq

            for field in _pq.read_schema(files[0]):
                t = _DDL_TYPES.get(str(field.type))
                if t is None:
                    raise ValueError(
                        f"managed_table_stream: unsupported column type "
                        f"{field.type} for {field.name}"
                    )
                cols.append((field.name, t, None))
            if partition_by:
                # Hive layout: partition values live in dir names, not
                # files — synthesize them LAST (the batch-read order),
                # each column's type unified over EVERY file's dir value
                all_pvals = [_file_pvals(path, f) for f in files]
                for c in partition_by:
                    cols.append(
                        (c, _unify_pval_type(p.get(c) for p in all_pvals),
                         None)
                    )
        cols = [c for c in cols if c[0] != _ROWID]
        for name, spec in sorted((m.get("added_columns") or {}).items()):
            cols.append((name, spec["type"], spec.get("default")))
        return cols

    class _TableStreamReader(DataSourceStreamReader):
        def __init__(self, options, cols, pa_schema):
            self.path = options["path"]
            self.cols = cols
            # the DECLARED schema as arrow types, computed driver-side
            # (pyspark's own worker-side conversion target) so read()
            # can align/cast file columns without a SparkSession
            self.pa_schema = pa_schema
            self.starting = options.get("startingversion")
            self.ignore_changes = (
                str(options.get("ignorechanges", "false")).lower() == "true"
            )
            self.skip_change_commits = (
                str(options.get("skipchangecommits", "false")).lower()
                == "true"
            )

        def initialOffset(self):
            live = int(_marker(self.path).get("version", 0))
            if self.starting is not None and str(
                self.starting
            ).lower() == "latest":
                return {"version": live, "snapshot_done": True}
            sv = live if self.starting is None else int(self.starting)
            # snapshot_at rides IN the offset: a checkpoint restart
            # replays exactly the snapshot version the stream began at
            return {"version": sv, "snapshot_at": sv, "snapshot_done": False}

        def latestOffset(self):
            return {
                "version": int(_marker(self.path).get("version", 0)),
                "snapshot_done": True,
            }

        def partitions(self, start, end):
            parts = []
            if not start.get("snapshot_done", True):
                sv = int(start["snapshot_at"])
                snap = _snap_dir(self.path, sv)
                m = _marker(snap)
                if not m:
                    raise ValueError(
                        f"version {sv} of {self.path} is no longer "
                        "retained — cannot serve the starting snapshot"
                    )
                if m.get("dv"):
                    raise ValueError(
                        "managed_table_stream: the starting snapshot has "
                        "an active deletion vector — a raw file read "
                        "would resurrect soft-deleted rows; run "
                        "maintenance.materialize_deletes first"
                    )
                parts.extend(
                    # third slot: raw Hive partition values of THIS file
                    # (parsed driver-side; typed in read() against the
                    # declared schema) — empty dict when unpartitioned
                    InputPartition(("snap", f, _file_pvals(snap, f)))
                    for f in _data_files(snap)
                )
            for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
                snap = _snap_dir(self.path, v)
                m = _marker(snap)
                if not m:
                    raise ValueError(
                        f"version {v} of {self.path} is no longer "
                        "retained — the stream fell behind the table's "
                        "history window"
                    )
                if not m.get("has_cdf"):
                    raise ValueError(
                        f"version {v} of {self.path} recorded no change "
                        "sidecar — the plain table stream needs "
                        "enableChangeDataFeed to identify a version's "
                        "new rows in O(changes)"
                    )
                files = sorted(
                    _glob.glob(_os.path.join(snap, _CDF, "*.parquet"))
                )
                import pyarrow.parquet as _pq

                # classify the commit from the (changes-bounded) sidecar.
                # Footer min/max stats answer the common case — an
                # insert-only commit — in O(1) per file; only a file the
                # stats can't clear (mixed types, or stats absent) reads
                # its _change_type column to the driver (needed anyway
                # for the error/skip message's exact type set)
                types: set = set()
                for f in files:
                    md = _pq.read_metadata(f)
                    mins, maxs = set(), set()
                    for rg in range(md.num_row_groups):
                        grp = md.row_group(rg)
                        st = next(
                            (
                                grp.column(i).statistics
                                for i in range(grp.num_columns)
                                if grp.column(i).path_in_schema
                                == "_change_type"
                            ),
                            None,
                        )
                        if st is None or not st.has_min_max:
                            mins, maxs = None, None
                            break
                        mn, mx = st.min, st.max
                        # physical BYTE_ARRAY stats may surface as bytes
                        mins.add(mn.decode() if isinstance(mn, bytes) else mn)
                        maxs.add(mx.decode() if isinstance(mx, bytes) else mx)
                    if mins is not None and mins == maxs and len(mins) == 1:
                        types.update(mins)
                        continue
                    types.update(
                        _pq.read_table(f, columns=["_change_type"])
                        .column(0)
                        .to_pylist()
                    )
                mutating = types - {"insert"}
                if mutating and self.skip_change_commits:
                    continue
                if mutating and not self.ignore_changes:
                    raise ValueError(
                        f"version {v} of {self.path} contains data "
                        f"changes ({sorted(mutating)}) — a plain table "
                        "stream serves appends only (the Delta "
                        "contract). Set skipChangeCommits to skip such "
                        "commits, or ignoreChanges to stream update "
                        "post-images."
                    )
                allowed = (
                    ("insert", "update_postimage")
                    if self.ignore_changes
                    else ("insert",)
                )
                parts.extend(
                    InputPartition(("cdf", f, allowed)) for f in files
                )
            # Spark refuses an empty plan: no-op partition for
            # zero-change advances (e.g. every tailed commit skipped)
            return parts or [InputPartition(("noop", None, None))]

        def read(self, partition):
            # runs in a Python WORKER: keep the body self-contained
            # (no factory-closure references — CLAUDE.md trap 2).
            # Rows cross the JVM boundary as ARROW RECORD BATCHES, not
            # pickled tuples (guide §4.1): the parquet columns are
            # re-sliced/cast columnar-side and never materialize as
            # Python objects — at snapshot scale (every file of a
            # 100 TB table flows through here once) the per-row pickle
            # tax was the dominant cost of the source.
            kind, fpath, extra = partition.value
            if kind == "noop":
                return
            import datetime as _dt
            from urllib.parse import unquote as _unq

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as _pq

            cols = self.cols
            typed_pvals = {}
            if kind == "snap" and extra:
                # Hive dir values -> the declared partition-column types
                for c, t, _d in cols:
                    if c not in extra:
                        continue
                    raw = extra[c]
                    if raw is None:
                        typed_pvals[c] = None
                    elif t in ("int", "bigint"):
                        typed_pvals[c] = int(_unq(raw))
                    elif t == "double":
                        typed_pvals[c] = float(_unq(raw))
                    elif t == "date":
                        typed_pvals[c] = _dt.date.fromisoformat(_unq(raw))
                    else:
                        typed_pvals[c] = _unq(raw)
            table = _pq.read_table(fpath)
            if kind == "cdf":
                table = table.filter(
                    pc.is_in(
                        table.column("_change_type"),
                        value_set=pa.array(list(extra), type=pa.string()),
                    )
                )
            names = set(table.schema.names)
            n = table.num_rows
            defaults = {c: d for c, _t, d in cols}
            arrays = []
            for field in self.pa_schema:
                if field.name in names:
                    col = table.column(field.name)
                    arrays.append(
                        col if col.type == field.type else col.cast(field.type)
                    )
                    continue
                # columns a file predates take their declared DEFAULT —
                # same rule as the batch read path; partition columns
                # come from the dir values
                val = typed_pvals.get(field.name, defaults.get(field.name))
                if val is None:
                    arrays.append(pa.nulls(n, type=field.type))
                else:
                    arrays.append(pa.repeat(val, n).cast(field.type))
            yield from pa.table(arrays, schema=self.pa_schema).to_batches()

        def commit(self, end):
            pass

    class ManagedTableStream(DataSource):
        @classmethod
        def name(cls):
            return "managed_table_stream"

        def schema(self):
            return ", ".join(
                f"`{n}` {t}"
                for n, t, _d in _logical_cols(self.options["path"])
            )

        def streamReader(self, schema):
            from pyspark.sql.pandas.types import to_arrow_schema

            return _TableStreamReader(
                self.options,
                _logical_cols(self.options["path"]),
                to_arrow_schema(schema),
            )

    return ManagedTableStream
