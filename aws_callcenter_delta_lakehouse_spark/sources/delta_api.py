"""delta-spark ``DeltaTable`` API facade over the managed-table layer.

The reference's Glue jobs drive Delta through the ``DeltaTable``
builder API (reference ``glue/01_silver_delta_upsert.py:103-117`` —
``DeltaTable.forPath(...).alias("t").merge(src.alias("s"), cond)
.whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()``), so a
user switching from the reference should find the same surface here:
:class:`DeltaTable` with ``forPath/isDeltaTable/convertToDelta``,
``toDF/history/detail/vacuum/delete/update/restoreToVersion/clone``,
an ``optimize()`` builder (``executeCompaction``/``executeZOrderBy``),
and a full ``merge()`` clause builder.

Everything delegates to the functions in
:mod:`..sources.managed_table` / :mod:`..sources.maintenance` — the
facade adds NO storage logic. The classic clause combination
(``whenMatchedUpdateAll + whenNotMatchedInsertAll``
[+ ``whenNotMatchedBySourceDelete``] on an equi-key condition) routes
through :func:`managed_table.merge_upsert`, which has the cheapest
plan (key joins only). Any other combination — clause conditions,
``whenMatchedDelete``, explicit ``SET``/``VALUES`` maps, by-source
updates, non-equi conditions — runs through :func:`general_merge`,
a full-semantics Delta MERGE executor built on the same crash-atomic
commit path (CHECK constraints, PK probes, CDF sidecars, row-tracking
ids, generated/identity recompute all apply identically).

Scale notes (100 TB discipline): ``general_merge`` costs one
``left_outer`` join (target x source on the merge condition) for the
target-side clause resolution, one ``left_anti`` for the insert side,
and one aggregate for the multiple-match validation — all key-
partitioned shuffles when the condition is an equi-join, which
Catalyst detects from the expression; there is no driver-side row
traffic. The multiple-match probe groups on a target row id, so its
shuffle is bounded by MATCHED rows, not the table.
"""
from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import maintenance, managed_table, txn_catalog
from .managed_table import _ROWID_COL

# --------------------------------------------------------------------------
# Name registry wiring (metastore-lite — txn_catalog.register_table_name)
# --------------------------------------------------------------------------
# The reference addresses tables BY NAME through the Glue catalog
# (`/root/reference/sql/athena_queries.sql:14` reads
# `callcenter_analytics.<table>`); delta-spark's `forName`/`tableName`
# resolve through the session metastore. The engine's analogue: a
# registry directory named by this session conf (runtime-settable on a
# vanilla session), holding one JSON binding per identifier.
_REGISTRY_CONF = "spark.managedTable.nameRegistry"


def _registry_dir(spark: SparkSession, explicit: str | None = None) -> str:
    if explicit:
        return explicit
    val = spark.conf.get(_REGISTRY_CONF, None)
    if not val:
        raise ValueError(
            "name-addressed table access needs a registry directory: "
            f'spark.conf.set("{_REGISTRY_CONF}", "<dir>") '
            "or pass registry_dir= explicitly"
        )
    return val


def _table_placement(
    spark: SparkSession,
    name: str,
    location: str | None,
    registry_dir: str | None = None,
    error: type[Exception] = ValueError,
):
    """(path, bind) for creating a table under a registry name — the
    one placement rule of the builder and every SQL CREATE shape
    (column list, CTAS, CLONE). A name bound to a VIEW refuses before
    any data is written (resolving a view and an unbound name raise the
    same error, so the view is looked for explicitly); without
    ``location`` the table lands under the registry's managed warehouse
    dir (``<registry>/tables/<name>``) or at the path the name already
    has; a name bound to a DIFFERENT path refuses. ``bind()`` records
    the binding after the commit — a lost put-if-absent race is fine
    iff the winner bound the same path. Refusals raise ``error``."""
    registry = _registry_dir(spark, registry_dir)
    try:
        bound = txn_catalog.resolve_table_name(registry, name)
    except txn_catalog.TableNameError:
        try:
            entry = txn_catalog.resolve_entry(registry, name)
        except txn_catalog.TableNameError:
            entry = {}
        if "view_sql" in entry:
            raise error(
                f"{name!r} is a registered VIEW — a table cannot be "
                "created under a view name (DROP VIEW first)"
            ) from None
        bound = None
    path = location or bound or os.path.join(
        registry, "tables", name.strip().lower()
    )
    if bound is not None and os.path.abspath(bound) != os.path.abspath(path):
        raise error(
            f"table name {name!r} is already bound to {bound} — it cannot "
            f"also be created at {path}"
        )

    def bind() -> None:
        if bound == path:
            return
        try:
            txn_catalog.register_table_name(registry, name, path)
        except txn_catalog.TableNameError:
            other = txn_catalog.resolve_table_name(registry, name)
            if os.path.abspath(other) != os.path.abspath(path):
                raise

    return path, bind


def register_sql_view(
    spark: SparkSession,
    name: str,
    registry_dir: str | None = None,
    view_name: str | None = None,
) -> str:
    """Make a registered table queryable by NAME through ``spark.sql``
    (the reference's Athena idiom: ``SELECT ... FROM
    callcenter_analytics.daily_call_summary``): creates the database
    (in-memory session catalog) and a VIEW over the live snapshot
    path. The view re-resolves the path at every query, so later
    commits are visible without re-registration (the snapshot swap
    keeps the path constant); it projects the table's PUBLIC columns
    (hidden ``__row_id`` stays hidden).

    Same external-reader contract as ``generate("symlink_format_
    manifest")``: the view is a RAW parquet read, so tables whose
    correct scan needs engine reader features (active deletion
    vectors, pending column renames/drops or ADD COLUMNs, zero-file
    snapshots) are refused — materialize with
    ``maintenance.materialize_deletes`` / a rewriting commit first.
    Re-register after schema evolution (the projected column list is
    captured here).

    The registration is RECORDED in a sibling sentinel AND guarded by
    a sibling CANARY: if a LATER commit enables a reader feature
    (``delete_where(deletion_vectors=True)`` / ``update_where(...)`` /
    ``rename_column`` / ``drop_column`` / ``add_column``) the
    committing session drops the recorded views in its own catalog
    (next query: VIEW_NOT_FOUND) and deletes the canary parquet the
    view's scalar-subquery guard reads — so a view held by ANY OTHER
    live session fails its next query at analysis (PATH_NOT_FOUND
    naming ``...__sql_view_canary``) instead of silently serving
    soft-deleted rows or stale columns. Re-register after
    materializing."""
    registry = _registry_dir(spark, registry_dir)
    path = txn_catalog.resolve_table_name(registry, name)
    marker = managed_table._read_marker(path)
    reader, _w = managed_table._required_features(marker)
    if reader:
        raise managed_table.ProtocolError(
            f"register_sql_view({name!r}): a raw SQL view cannot honor "
            f"reader features {sorted(reader)} — it would serve wrong "
            "rows. Materialize first (materialize_deletes / a rewriting "
            "commit)."
        )
    cols = managed_table.read(spark, path).columns
    parts = [p.strip() for p in (view_name or name).split(".")]
    if len(parts) > 2:
        raise ValueError(f"identifier {view_name or name!r}: at most db.table")
    if len(parts) == 2:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{parts[0]}`")
    quoted = ".".join(f"`{p}`" for p in parts)
    collist = ", ".join(f"`{c}`" for c in cols)
    canary = managed_table._ensure_sql_view_canary(path)
    # the uncorrelated scalar subquery is trivially true but forces
    # every analysis of the view to resolve the canary path — deleting
    # the canary invalidates the view in EVERY session, not just the
    # one that can reach this catalog
    spark.sql(
        f"CREATE OR REPLACE VIEW {quoted} AS "
        f"SELECT {collist} FROM parquet.`{path}` "
        f"WHERE (SELECT count(*) FROM parquet.`{canary}`) >= 0"
    )
    managed_table._record_sql_view(path, quoted)
    return quoted


# --------------------------------------------------------------------------
# MERGE clause model
# --------------------------------------------------------------------------

_MATCHED = "matched"
_NOT_MATCHED = "not_matched"
_BY_SOURCE = "by_source"


@dataclass(frozen=True)
class _Clause:
    """One WHEN clause: ``group`` is the match bucket, ``action`` is
    update | delete | insert, ``condition`` the optional extra
    predicate, ``assignments`` the SET/VALUES map (None = *All)."""

    group: str
    action: str
    condition: str | Column | None = None
    assignments: dict | None = None


def _as_col(expr) -> Column:
    return F.expr(expr) if isinstance(expr, str) else expr


def _q(alias: str, col: str) -> Column:
    return F.col(f"{alias}.{col}")


def _plan_alias(df: DataFrame) -> str | None:
    """Name of the top-level ``SubqueryAlias`` on *df*'s analyzed plan
    (i.e. the result of ``df.alias(name)``), or None when the caller
    never aliased. delta-spark resolves merge conditions against the
    caller's own alias, so the facade must preserve it — re-aliasing to
    a fixed name would shadow ``src.alias("u")`` and break the legal
    ``merge(src.alias("u"), "t.k = u.k")`` idiom."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "SubqueryAlias":
            return plan.alias()
    except Exception:  # pragma: no cover - defensive (Connect, etc.)
        return None
    return None


# --------------------------------------------------------------------------
# General MERGE executor
# --------------------------------------------------------------------------

def general_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    condition,
    clauses: Sequence[_Clause],
    target_alias: str = "t",
    source_alias: str = "s",
    max_history: int = 2,
    txn: dict | None = None,
    schema_evolution: bool = False,
) -> None:
    """Full-semantics Delta MERGE: arbitrary WHEN clause lists with
    per-clause conditions, evaluated in order within each match bucket
    (first applicable clause wins — the Delta contract).

    * ``WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE``
    * ``WHEN NOT MATCHED [AND cond] THEN INSERT (...) VALUES (...)``
    * ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE ... | DELETE``

    ``condition`` and every clause condition/assignment may reference
    ``<target_alias>.col`` and ``<source_alias>.col`` (defaults
    ``t.``/``s.``). Target rows matching NO applicable clause are kept
    unchanged; source rows matching no insert clause are dropped.

    Multiple source rows matching one target row raise (Delta's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW) whenever a
    matched-bucket clause exists — the update/delete would be
    nondeterministic. The probe is one count over MATCHED target ids,
    skipped when Catalyst proves the source holds at most one row
    (``maxRows() <= 1``): then no target row can match twice, whatever
    the condition.

    The commit runs through the standard stage-and-swap, so CHECK
    constraints, PRIMARY KEY probes, generated/identity recompute,
    schema enforcement, optimistic concurrency and crash recovery all
    behave exactly as :func:`managed_table.merge_upsert`. On
    CDF-enabled tables the executor records the row-level change set
    (update pre/post images, deletes, inserts) in the same commit.

    ``schema_evolution=True`` is delta-spark's ``withSchemaEvolution``
    for ARBITRARY clause shapes (the classic-combo route delegates to
    ``merge_upsert(schema_evolution=True)``): the target schema widens
    by (a) every source column an UPDATE ALL / INSERT ALL clause would
    copy, and (b) every explicitly ASSIGNED column missing from the
    target — types come from the source schema / the assignment
    expression resolved against both aliases, exactly Delta's automatic
    schema-evolution rule for merge. Pre-existing rows (and matched
    rows no clause touches) read NULL in the new columns; CDF sidecars
    record the widened schema (``table_changes`` unions versions with
    ``allowMissingColumns``, the Delta CDF batch-schema contract).
    """
    clauses = list(clauses)
    if not clauses:
        raise ValueError("general_merge: at least one WHEN clause is required")
    matched_cl = [c for c in clauses if c.group == _MATCHED]
    insert_cl = [c for c in clauses if c.group == _NOT_MATCHED]
    by_src_cl = [c for c in clauses if c.group == _BY_SOURCE]

    managed_table.recover(path)
    meta = managed_table._read_marker(path)
    managed_table._check_writer(meta, path)
    if matched_cl or by_src_cl:
        # updates/deletes are rewrites — refused on appendOnly tables;
        # a pure insert-only merge is the one allowed shape
        managed_table._check_append_only(meta, "general_merge")

    target = managed_table._read_logical(spark, path)
    out_cols = list(target.columns)  # includes __row_id on tracked tables
    auto_cols = set(meta.get("generated", {})) | set(meta.get("identity", {}))
    pending = set(meta.get("added_columns", {}))
    evolve_assigned: list[tuple[str, object]] = []  # (col, assignment expr)
    for cl in clauses:
        for c, expr in (cl.assignments or {}).items():
            if c in auto_cols:
                raise ValueError(
                    f"general_merge: column {c!r} is generated/identity — "
                    "the commit computes it; remove it from SET/VALUES"
                )
            if c == _ROWID_COL:
                raise ValueError("general_merge: __row_id is engine-managed")
            if c not in out_cols:
                if schema_evolution and c not in pending:
                    evolve_assigned.append((c, expr))
                    continue
                raise ValueError(
                    f"general_merge: unknown target column {c!r} in clause"
                    + (
                        " (a pending ADD COLUMN cannot be merge-assigned "
                        "before a rewrite materializes it)"
                        if c in pending
                        else ""
                    )
                )

    # ---- schema evolution: resolve the NEW columns and their types.
    # (a) ALL clauses copy every source column -> source's type;
    # (b) explicit assignments to missing columns -> the expression's
    #     type, resolved against a zero-row two-alias probe (the
    #     expression may reference both t. and s. columns).
    evolved: dict[str, str] = {}
    if schema_evolution:
        known = set(out_cols) | pending
        if any(cl.assignments is None for cl in clauses):
            for c, tp in source.dtypes:
                if c not in known and c != _ROWID_COL and not c.startswith("__"):
                    evolved[c] = tp
        if evolve_assigned:
            probe = (
                target.limit(0)
                .alias(target_alias)
                .join(source.limit(0).alias(source_alias), F.lit(True), "inner")
            )
            for c, expr in evolve_assigned:
                if c not in evolved:
                    evolved[c] = probe.select(
                        _as_col(expr).alias(c)
                    ).dtypes[0][1]

    # checkpoint the source so the target-side join and the insert anti
    # join read ONE materialization; the blocks are RDD persistence
    # (clearCache doesn't touch them — perf trap 4), so they must be
    # dropped after the commit or a many-merges loop pins memory.
    # (Imported here: the write path does not load the operator package
    # otherwise.)
    from ..operators.materialize import cut_once, scoped_cuts

    # proven on the caller's plan: the checkpointed scan below has no
    # row bound
    probe = not managed_table._key_unique(source, ())
    with scoped_cuts(spark):
        source = cut_once(source)

        def _attempt() -> None:
            # Delta-style commit retry: re-derive marker/version/layout from
            # the LIVE table each attempt — a CAS loss re-runs the merge
            # against the winner's snapshot (WriteSerializable). The
            # checkpointed source is attempt-stable, so every retry merges
            # the same source rows.
            managed_table.recover(path)
            m = managed_table._read_marker(path)
            _general_merge_body(
                spark, path, source, condition, m,
                managed_table.table_version(path),
                matched_cl, insert_cl, by_src_cl,
                target_alias, source_alias,
                list(m.get("keys", [])),
                tuple(m.get("partition_by", ()) or ()),
                managed_table._cdf_on(m),
                max_history, txn, evolved, probe,
            )

        managed_table._retry_dml(_attempt, path)


def _general_merge_body(
    spark, path, source, condition, meta, base_version,
    matched_cl, insert_cl, by_src_cl,
    target_alias, source_alias, keys, partition_by, cdf_on,
    max_history, txn, evolved=None, probe=True,
) -> None:
    target = managed_table._read_logical(spark, path)
    for c, tp in (evolved or {}).items():
        # schema evolution: pre-existing rows read NULL in the new
        # column (Delta's rule); assigning clauses overwrite per row.
        # Skip columns the live table ALREADY has — on a commit-retry a
        # concurrent winner may have evolved the same column, and
        # re-nulling it would erase the winner's values.
        if c not in target.columns:
            target = target.withColumn(c, F.lit(None).cast(tp))
    out_cols = list(target.columns)  # includes __row_id on tracked tables

    t = (
        target.withColumn("__tid", F.monotonically_increasing_id())
        .withColumn("__t_present", F.lit(True))
        .alias(target_alias)
    )
    s = source.withColumn("__s_present", F.lit(True)).alias(source_alias)
    src_cols = set(source.columns)
    on = _as_col(condition)

    # ---- target side: one left_outer join resolves matched + by-source.
    # An INSERT-ONLY merge never joins the target side at all — the
    # target passes through verbatim (and multiple source matches are
    # legal there, exactly the Delta rule).
    pairs = None
    if matched_cl or by_src_cl:
        pairs = t.join(s, on, "left_outer")
        s_present = _q(source_alias, "__s_present").isNotNull()
        if probe and not (
            pairs.filter(s_present)
            .groupBy(_q(target_alias, "__tid"))
            .count()
            .filter(F.col("count") > 1)
            .isEmpty()
        ):
            raise ValueError(
                "general_merge: multiple source rows match the same target "
                "row — the update/delete is nondeterministic (Delta: "
                "DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW). "
                "Deduplicate the source on the merge condition first."
            )

        # first-applicable-clause action code, per the Delta ordering rules
        action = F.when(F.lit(False), F.lit(""))  # seed an empty CASE chain
        for i, cl in enumerate(matched_cl):
            cond = s_present if cl.condition is None else s_present & _as_col(cl.condition)
            action = action.when(cond, F.lit(f"m{i}"))
        for i, cl in enumerate(by_src_cl):
            cond = ~s_present if cl.condition is None else ~s_present & _as_col(cl.condition)
            action = action.when(cond, F.lit(f"b{i}"))
        action = action.otherwise(F.lit("keep"))

    def _new_val(col: str) -> Column:
        """CASE over the clause actions for one output column."""
        val = F.when(F.lit(False), F.lit(None))
        for i, cl in enumerate(matched_cl + by_src_cl):
            code = f"m{i}" if cl.group == _MATCHED else f"b{i - len(matched_cl)}"
            if cl.action == "delete":
                continue  # deleted rows are filtered, value irrelevant
            if cl.assignments is None:  # UPDATE ALL: take source's column
                new = (
                    _q(source_alias, col)
                    if col in src_cols and col != _ROWID_COL
                    else _q(target_alias, col)
                )
            else:
                new = (
                    _as_col(cl.assignments[col])
                    if col in cl.assignments
                    else _q(target_alias, col)
                )
            val = val.when(F.col("__action") == code, new)
        return val.otherwise(_q(target_alias, col))

    delete_codes = [
        (f"m{i}" if cl.group == _MATCHED else f"b{i - len(matched_cl)}")
        for i, cl in enumerate(matched_cl + by_src_cl)
        if cl.action == "delete"
    ]
    update_codes = [
        (f"m{i}" if cl.group == _MATCHED else f"b{i - len(matched_cl)}")
        for i, cl in enumerate(matched_cl + by_src_cl)
        if cl.action == "update"
    ]
    if pairs is not None:
        # old values ride along for CDF pre-images; new values for the rows
        wide = pairs.withColumn("__action", action).select(
            F.col("__action"),
            *[_q(target_alias, c).alias(f"__old_{c}") for c in out_cols],
            *[_new_val(c).alias(c) for c in out_cols],
        )
        kept = (
            wide.filter(~F.col("__action").isin(delete_codes))
            if delete_codes
            else wide
        )
        target_rows = kept.select(*out_cols)
    else:
        wide = None
        target_rows = target.select(*out_cols)

    # ---- source side: anti join picks the insert candidates
    inserts = None
    if insert_cl:
        cand = s.join(t, on, "left_anti")
        ins_action = F.when(F.lit(False), F.lit(""))
        for i, cl in enumerate(insert_cl):
            cond = F.lit(True) if cl.condition is None else _as_col(cl.condition)
            ins_action = ins_action.when(cond, F.lit(f"i{i}"))
        ins_action = ins_action.otherwise(F.lit("drop"))

        # a column the clause doesn't assign takes its pending ADD
        # COLUMN DEFAULT when one is declared (SQL DEFAULT semantics —
        # the same rule merge_upsert applies, so classic and general
        # routing insert identical rows), NULL otherwise
        added = meta.get("added_columns", {})

        def _unassigned(col: str) -> Column:
            spec = added.get(col)
            if spec is not None:
                return F.lit(spec.get("default")).cast(spec["type"])
            return F.lit(None)

        def _ins_val(col: str) -> Column:
            val = F.when(F.lit(False), F.lit(None))
            for i, cl in enumerate(insert_cl):
                if cl.assignments is None:  # INSERT ALL
                    new = (
                        _q(source_alias, col)
                        if col in src_cols and col != _ROWID_COL
                        else _unassigned(col)
                    )
                else:
                    new = (
                        _as_col(cl.assignments[col])
                        if col in cl.assignments
                        else _unassigned(col)
                    )
                val = val.when(F.col("__ins") == f"i{i}", new)
            return val.otherwise(F.lit(None))

        target_types = dict(target.dtypes)
        inserts = (
            cand.withColumn("__ins", ins_action)
            .filter(F.col("__ins") != "drop")
            .select(
                *[
                    _ins_val(c).cast(target_types[c]).alias(c)
                    for c in out_cols
                ]
            )
        )

    merged = (
        target_rows.unionByName(inserts) if inserts is not None else target_rows
    )

    changes = None
    if cdf_on:
        data_cols = [c for c in out_cols if c != _ROWID_COL]
        upd = wide.filter(F.col("__action").isin(update_codes)) if update_codes else None
        parts = []
        if upd is not None:
            parts.append(
                upd.select(
                    *[F.col(f"__old_{c}").alias(c) for c in data_cols]
                ).withColumn("_change_type", F.lit("update_preimage"))
            )
            parts.append(
                upd.select(*data_cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        if delete_codes:
            parts.append(
                wide.filter(F.col("__action").isin(delete_codes))
                .select(*[F.col(f"__old_{c}").alias(c) for c in data_cols])
                .withColumn("_change_type", F.lit("delete"))
            )
        if inserts is not None:
            parts.append(
                inserts.select(*data_cols).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        if parts:
            changes = parts[0]
            for p in parts[1:]:
                changes = changes.unionByName(p)

    managed_table.commit_overwrite(
        merged.drop("__tid", "__t_present", "__s_present"),
        path,
        keys,
        partition_by,
        max_history,
        txn,
        base_version,
        changes=changes,
        # evolution INTENDS the widened schema (enforce would refuse
        # it); the evolved frame was built from the live schema + the
        # vetted new columns, so "overwrite" here is exact, not lax
        schema_mode="overwrite" if evolved else "enforce",
        _append_only_ok=True,  # vetted above: insert-only on appendOnly
        _live_schema=target.schema,
    )


# --------------------------------------------------------------------------
# Builders
# --------------------------------------------------------------------------

class DeltaMergeBuilder:
    """``DeltaTable.merge(...)`` clause builder — the delta-spark
    surface (whenMatchedUpdate[All] / whenMatchedDelete /
    whenNotMatchedInsert[All] / whenNotMatchedBySourceUpdate|Delete),
    each with an optional ``condition``. ``execute()`` picks the plan:
    the classic updateAll+insertAll(+bySourceDelete) combo on an
    equi-key condition routes to :func:`managed_table.merge_upsert`
    (key-join plan); everything else runs :func:`general_merge`."""

    def __init__(self, table: "DeltaTable", source: DataFrame, condition):
        self._table = table
        # preserve the caller's alias (delta-spark resolves the merge
        # condition against whatever alias the source carries); only an
        # UNaliased source gets the conventional "s"
        alias = _plan_alias(source)
        if alias is None:
            alias = "s"
            source = source.alias("s")
        if alias == table._alias:
            raise ValueError(
                f"merge: source alias {alias!r} collides with the target "
                "alias — the merge condition could not distinguish the "
                "two sides; alias one of them differently"
            )
        self._source = source
        self._source_alias = alias
        self._condition = condition
        self._clauses: list[_Clause] = []
        self._schema_evolution = False

    # -- matched ----------------------------------------------------------
    def whenMatchedUpdateAll(self, condition=None) -> "DeltaMergeBuilder":
        self._clauses.append(_Clause(_MATCHED, "update", condition, None))
        return self

    def whenMatchedUpdate(self, condition=None, set=None) -> "DeltaMergeBuilder":
        if not set:
            raise ValueError("whenMatchedUpdate requires a non-empty set map")
        self._clauses.append(_Clause(_MATCHED, "update", condition, dict(set)))
        return self

    def whenMatchedDelete(self, condition=None) -> "DeltaMergeBuilder":
        self._clauses.append(_Clause(_MATCHED, "delete", condition, None))
        return self

    # -- not matched ------------------------------------------------------
    def whenNotMatchedInsertAll(self, condition=None) -> "DeltaMergeBuilder":
        self._clauses.append(_Clause(_NOT_MATCHED, "insert", condition, None))
        return self

    def whenNotMatchedInsert(self, condition=None, values=None) -> "DeltaMergeBuilder":
        if not values:
            raise ValueError("whenNotMatchedInsert requires a non-empty values map")
        self._clauses.append(_Clause(_NOT_MATCHED, "insert", condition, dict(values)))
        return self

    # -- not matched by source ---------------------------------------------
    def whenNotMatchedBySourceUpdate(self, condition=None, set=None) -> "DeltaMergeBuilder":
        if not set:
            raise ValueError("whenNotMatchedBySourceUpdate requires a set map")
        self._clauses.append(_Clause(_BY_SOURCE, "update", condition, dict(set)))
        return self

    def whenNotMatchedBySourceDelete(self, condition=None) -> "DeltaMergeBuilder":
        self._clauses.append(_Clause(_BY_SOURCE, "delete", condition, None))
        return self

    def withSchemaEvolution(self) -> "DeltaMergeBuilder":
        """Delta automatic schema evolution for ANY clause shape: the
        classic combo delegates to merge_upsert's schema_evolution; the
        general executor widens the target by ALL-clause source columns
        and explicitly-assigned missing columns (see
        :func:`general_merge`)."""
        self._schema_evolution = True
        return self

    # -- execution ---------------------------------------------------------
    def _equi_keys(self) -> list[str] | None:
        """``t.k1 = s.k1 AND t.k2 = s.k2`` (any alias order) -> keys;
        anything else -> None (general path). Each conjunct must pair
        ONE target-alias side with ONE source-alias side — a same-alias
        tautology like ``t.k = t.k`` is NOT an equi-key (routing it to
        the key-join plan would silently change the merge semantics)."""
        if not isinstance(self._condition, str):
            return None
        import re

        ta, sa = self._table._alias, self._source_alias
        keys = []
        for part in re.split(r"(?i)\s+and\s+", self._condition.strip()):
            m = re.fullmatch(
                rf"\s*({re.escape(ta)}|{re.escape(sa)})\.(\w+)"
                rf"\s*=\s*({re.escape(ta)}|{re.escape(sa)})\.(\w+)\s*",
                part,
            )
            if not m:
                return None
            a1, c1, a2, c2 = m.groups()
            if {a1, a2} != {ta, sa} or c1 != c2:
                return None
            keys.append(c1)
        return keys or None

    def execute(self) -> None:
        kinds = sorted(
            (c.group, c.action, c.condition is None, c.assignments is None)
            for c in self._clauses
        )
        classic_core = [
            (_MATCHED, "update", True, True),
            (_NOT_MATCHED, "insert", True, True),
        ]
        classic = sorted(classic_core) == kinds or sorted(
            classic_core + [(_BY_SOURCE, "delete", True, True)]
        ) == kinds
        keys = self._equi_keys()
        spark = self._source.sparkSession
        if classic and keys:
            managed_table.merge_upsert(
                spark,
                self._table.path,
                self._source,
                keys,
                schema_evolution=self._schema_evolution,
                not_matched_by_source=(
                    "delete"
                    if any(c.group == _BY_SOURCE for c in self._clauses)
                    else "keep"
                ),
            )
            return
        general_merge(
            spark,
            self._table.path,
            self._source,
            self._condition,
            self._clauses,
            target_alias=self._table._alias,
            source_alias=self._source_alias,
            schema_evolution=self._schema_evolution,
        )


class DeltaOptimizeBuilder:
    """``DeltaTable.optimize()`` — ``executeCompaction()`` binpacks,
    ``executeZOrderBy(cols)`` rewrites clustered; ``where`` scopes
    EITHER to the matching partition directories (Delta
    ``OPTIMIZE ... WHERE [... ZORDER BY]``) — only those dirs are
    rewritten, each atomically."""

    def __init__(self, table: "DeltaTable"):
        self._table = table
        self._where: str | None = None

    def where(self, predicate: str) -> "DeltaOptimizeBuilder":
        self._where = predicate
        return self

    def executeCompaction(self) -> dict:
        marker = managed_table._read_marker(self._table.path)
        part = tuple(marker.get("partition_by", ()) or ())
        return maintenance.compact(
            self._table._spark, self._table.path, partition_by=part,
            where=self._where,
        )

    def executeZOrderBy(self, *cols: str) -> dict:
        flat = [c for group in cols for c in
                (group if isinstance(group, (list, tuple)) else [group])]
        if self._where is not None:
            # partition-scoped re-clustering: only the selected Hive
            # partition dirs are rewritten (compact(where=)'s walk),
            # each clustered on the Morton key of `cols`
            return maintenance.optimize_zorder_partitions(
                self._table._spark, self._table.path, flat, self._where
            )
        return maintenance.optimize_zorder(
            self._table._spark, self._table.path, flat
        )


class DeltaTableBuilder:
    """delta-spark ``DeltaTable.create/createIfNotExists/createOrReplace/
    replace`` DDL builder: declare schema (``addColumn``/``addColumns``),
    layout (``partitionedBy``), and table metadata (``property``,
    ``comment``), then ``execute()`` to commit an EMPTY table through the
    standard crash-atomic path. ``generatedAlwaysAs`` maps to the
    engine's generated-column marker (recomputed at every commit),
    exactly delta-spark's semantic.

    ``mode`` semantics match delta-spark: ``create`` errors if the table
    exists, ``createIfNotExists`` no-ops, ``createOrReplace`` replaces
    (or creates), ``replace`` errors if the table does NOT exist.
    """

    def __init__(self, spark: SparkSession, mode: str):
        self._spark = spark
        self._mode = mode
        self._path: str | None = None
        self._name: str | None = None
        self._cols: list[tuple] = []  # (name, ddl_type, generated_expr)
        self._partition_by: tuple[str, ...] = ()
        self._properties: dict = {}
        self._comment: str | None = None
        self._keys: tuple[str, ...] = ()

    def location(self, path: str) -> "DeltaTableBuilder":
        self._path = path
        return self

    def tableName(self, identifier: str) -> "DeltaTableBuilder":
        """Name-addressed CREATE (delta-spark's metastore registration):
        the identifier binds in the session's name registry
        (``spark.managedTable.nameRegistry`` conf). Without an explicit
        ``location`` the data lands under the registry's managed
        warehouse dir (``<registry>/tables/<identifier>``) — Delta's
        managed-vs-external split. The bound name then works with
        ``DeltaTable.forName`` and (via :func:`register_sql_view`)
        ``spark.sql``."""
        self._name = identifier.strip().lower()
        return self

    def addColumn(
        self,
        colName: str,
        dataType,
        nullable: bool = True,  # noqa: ARG002 - parity; emptiness makes it moot
        generatedAlwaysAs: str | None = None,
        comment: str | None = None,  # noqa: ARG002 - accepted for parity
    ) -> "DeltaTableBuilder":
        dtype = dataType if isinstance(dataType, str) else dataType.simpleString()
        self._cols.append((colName, dtype, generatedAlwaysAs))
        return self

    def addColumns(self, schema) -> "DeltaTableBuilder":
        for f in schema.fields:
            self._cols.append((f.name, f.dataType.simpleString(), None))
        return self

    def partitionedBy(self, *cols: str) -> "DeltaTableBuilder":
        self._partition_by = tuple(
            c for group in cols
            for c in (group if isinstance(group, (list, tuple)) else [group])
        )
        return self

    def clusterBy(self, *cols: str) -> "DeltaTableBuilder":
        """Delta LIQUID CLUSTERING declaration (delta-spark 3.x
        ``clusterBy``): the table self-maintains its layout — every
        rewriting commit probes the declared columns' zone depth
        (driver metadata only) and re-clusters on the multi-key Morton
        interleave when any column degraded past the threshold
        (``autoOptimize`` property, ``optimize_if_degraded``).
        Mutually exclusive with ``partitionedBy``, like Delta."""
        flat = [c for group in cols for c in
                (group if isinstance(group, (list, tuple)) else [group])]
        if not flat:
            # fail at declaration time — an empty spec would otherwise
            # surface as a KeyError on the first auto-optimize probe
            raise ValueError("clusterBy() needs at least one column")
        self._properties["autoOptimize"] = {
            "columns": flat, "max_avg_depth": 2.0,
        }
        return self

    def property(self, key: str, value) -> "DeltaTableBuilder":
        self._properties[key] = value
        return self

    def comment(self, text: str) -> "DeltaTableBuilder":
        self._comment = text
        return self

    def primaryKeys(self, *keys: str) -> "DeltaTableBuilder":
        """Engine extension: record merge/PK keys in the marker."""
        self._keys = tuple(keys)
        return self

    def execute(self) -> "DeltaTable":
        bind = lambda: None  # a path-addressed table has no name to bind
        if self._name is not None:
            self._path, bind = _table_placement(
                self._spark, self._name, self._path
            )
        if self._path is None:
            raise ValueError(
                "create builder requires .location(path) or .tableName(name)"
            )
        if not self._cols:
            raise ValueError("create builder requires at least one addColumn")
        if self._partition_by and self._properties.get("autoOptimize"):
            raise ValueError(
                "clusterBy and partitionedBy are mutually exclusive "
                "(Delta's liquid-clustering rule; the depth-probe "
                "trigger maintains flat tables only)"
            )

        exists = managed_table.is_table(self._spark, self._path)
        if exists:
            if self._mode == "create":
                raise ValueError(f"{self._path} is already a managed table")
            if self._mode == "createIfNotExists":
                bind()
                return DeltaTable(self._spark, self._path)
        elif self._mode == "replace":
            raise ValueError(
                f"replace: {self._path} is not a managed table (use "
                "createOrReplace to create it)"
            )
        generated = {
            name: gen for name, _t, gen in self._cols if gen is not None
        }
        physical = [
            (name, dtype) for name, dtype, gen in self._cols if gen is None
        ]
        empty = self._spark.createDataFrame(
            [], ", ".join(f"`{n.replace('`', '``')}` {t}" for n, t in physical)
        )
        props = dict(self._properties)
        if self._comment is not None:
            props["comment"] = self._comment
        managed_table.commit_overwrite(
            empty,
            self._path,
            keys=self._keys,
            partition_by=self._partition_by,
            generated=generated or None,
            properties=props,
            schema_mode="overwrite",
        )
        bind()
        return DeltaTable(self._spark, self._path)


# --------------------------------------------------------------------------
# The table handle
# --------------------------------------------------------------------------

class DeltaTable:
    """delta-spark-shaped handle over a managed table path."""

    def __init__(self, spark: SparkSession, path: str, alias: str = "t"):
        self._spark = spark
        self.path = path
        self._alias = alias

    # -- constructors -------------------------------------------------------
    @classmethod
    def forPath(cls, spark: SparkSession, path: str) -> "DeltaTable":
        if not managed_table.is_table(spark, path):
            raise ValueError(f"{path} is not a managed table")
        return cls(spark, path)

    @classmethod
    def forName(
        cls, spark: SparkSession, name: str, registry_dir: str | None = None
    ) -> "DeltaTable":
        """Name-addressed handle (delta-spark's metastore resolution):
        the identifier resolves through the session's name registry
        (``spark.managedTable.nameRegistry`` conf, or an explicit
        ``registry_dir``) — the engine's Glue-catalog analogue, so the
        reference's ``callcenter_analytics.<table>`` idiom works
        name-first end to end (create by name via
        ``DeltaTable.create(spark).tableName(...)``, SQL by name via
        :func:`register_sql_view`)."""
        path = txn_catalog.resolve_table_name(
            _registry_dir(spark, registry_dir), name
        )
        return cls.forPath(spark, path)

    @classmethod
    def isDeltaTable(cls, spark: SparkSession, path: str) -> bool:
        return managed_table.is_table(spark, path)

    # -- DDL builders ---------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession) -> "DeltaTableBuilder":
        return DeltaTableBuilder(spark, "create")

    @classmethod
    def createIfNotExists(cls, spark: SparkSession) -> "DeltaTableBuilder":
        return DeltaTableBuilder(spark, "createIfNotExists")

    @classmethod
    def createOrReplace(cls, spark: SparkSession) -> "DeltaTableBuilder":
        return DeltaTableBuilder(spark, "createOrReplace")

    @classmethod
    def replace(cls, spark: SparkSession) -> "DeltaTableBuilder":
        return DeltaTableBuilder(spark, "replace")

    @classmethod
    def convertToDelta(
        cls,
        spark: SparkSession,
        path: str,
        partition_by: Sequence[str] = (),
        keys: Sequence[str] = (),
    ) -> "DeltaTable":
        """``CONVERT TO DELTA`` — adopt an existing parquet directory in
        place. ``partition_by`` declares the existing Hive layout
        (delta-spark's ``partitionSchema``); ``keys`` is an engine
        extension recording the merge keys in the marker."""
        managed_table.convert_to_managed(
            spark, path, keys=keys, partition_by=partition_by
        )
        return cls(spark, path)

    # -- reads ---------------------------------------------------------------
    def alias(self, name: str) -> "DeltaTable":
        return DeltaTable(self._spark, self.path, alias=name)

    def toDF(self) -> DataFrame:
        return managed_table.read(self._spark, self.path)

    def history(self, limit: int | None = None) -> DataFrame:
        h = managed_table.history(self._spark, self.path)
        return h.limit(limit) if limit is not None else h

    def detail(self) -> DataFrame:
        """One-row DataFrame, like delta-spark's ``detail()`` (the
        engine's dict form stays available as
        ``managed_table.table_detail``). Nested metadata fields are
        JSON-encoded strings, mirroring how Delta surfaces properties."""
        import json

        d = managed_table.table_detail(self.path)
        row = {
            k: (json.dumps(v) if isinstance(v, (dict, list)) else v)
            for k, v in d.items()
        }
        from pyspark.sql import Row

        return self._spark.createDataFrame([Row(**row)])

    # -- DML -----------------------------------------------------------------
    def delete(self, condition=None) -> None:
        cond = F.lit(True) if condition is None else _as_col(condition)
        managed_table.delete_where(self._spark, self.path, cond)

    def update(self, condition=None, set=None) -> None:
        if not set:
            raise ValueError("update requires a non-empty set map")
        cond = F.lit(True) if condition is None else _as_col(condition)
        managed_table.update_where(
            self._spark, self.path, cond,
            {c: _as_col(e) for c, e in set.items()},
        )

    def merge(self, source: DataFrame, condition) -> DeltaMergeBuilder:
        # the builder preserves the caller's source alias when present
        # (`merge(src.alias("u"), "t.k = u.k")` is legal delta-spark)
        # and aliases an unaliased source "s" by convention
        return DeltaMergeBuilder(self, source, condition)

    # -- maintenance -----------------------------------------------------------
    def optimize(self) -> DeltaOptimizeBuilder:
        return DeltaOptimizeBuilder(self)

    def generate(self, mode: str) -> list:
        """``DeltaTable.generate("symlink_format_manifest")`` — write
        the external-reader manifest (Presto/Trino/Athena symlink
        format). Point-in-time: regenerate after every commit, exactly
        Delta's manual generate mode."""
        if mode != "symlink_format_manifest":
            raise ValueError(
                f"generate: unsupported mode {mode!r} (only "
                "'symlink_format_manifest', same as delta-spark)"
            )
        return maintenance.generate_symlink_manifest(self.path)

    def exportDeltaLog(self, versioned: bool = False) -> str:
        """Engine extension: write a REAL `_delta_log` (public Delta
        protocol JSON — protocol/metaData/add actions) describing the
        live snapshot, making the directory a readable Delta table for
        external Delta engines. ``versioned=True`` emits one commit
        JSON per retained version (external time travel + log tail);
        set the ``delta.logExport.auto`` table property to re-export
        inside every commit. See :func:`maintenance.export_delta_log`."""
        return maintenance.export_delta_log(
            self._spark, self.path, versioned=versioned
        )

    def vacuum(self, retentionHours: float = 168.0, dry_run: bool = False) -> list:
        return maintenance.vacuum(
            self.path, retention_hours=retentionHours, dry_run=dry_run
        )

    def restoreToVersion(self, version: int) -> dict:
        return managed_table.restore_table(self._spark, self.path, version)

    def clone(self, target: str) -> "DeltaTable":
        managed_table.clone_table(self.path, target)
        return DeltaTable(self._spark, target)
