"""Incremental materialized views over CDF-enabled managed tables.

Databricks materialized views / Delta Live Tables maintain aggregate
tables from the change feed instead of recomputing them; the same
algebra here: a grouped MV of RETRACTABLE aggregates (sum / count —
avg is their quotient) refreshes from ``table_changes`` alone.

Why this matters at 100 TB: the base table is the lake; the MV is the
dashboard. A recompute is O(base) every time; this refresh is
O(changes since last refresh) + one keyed merge into the MV —
insert/update_postimage rows add, delete/update_preimage rows
retract, groups whose count reaches zero leave the MV. The refresh
cursor (the base version the MV reflects) commits ATOMICALLY with the
MV data via ``txn=`` — the exactly-once pattern the streaming sinks
use — so a crashed refresh can never double-apply a change batch, and
``expected_version`` makes concurrent refreshes lose cleanly instead
of silently diverging.

Retraction algebra is exact for integer-typed measures; floating sums
drift by FP association (inherent to incremental view maintenance —
store money as integer cents, CLAUDE.md trap 13).

min/max are NOT retractable (a deleted max needs the group's surviving
rows), so they refresh by the other classic IVM strategy: RECOMPUTE
ONLY THE TOUCHED GROUPS — the change feed names which groups moved,
the base is re-aggregated under a semi-join on exactly those groups
(partition/zone-pruned at scale when the table is clustered on the
group key), and untouched groups keep their stored values. Cost:
O(changes) + O(scan of touched groups), still never O(base) — unless
every group was touched, which is the recompute case anyway.

A fact-dim JOIN view refreshes by the delta-join rule
(:func:`refresh_join_mv_fact_changes`, :func:`refresh_join_mv_dim_update`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import managed_table as mt

_INSERTS = ("insert", "update_postimage")
_COUNT_COL = "__mv_count"  # physical per-group row count (retraction key)


_RETRACTABLE = ("sum", "count")
_RECOMPUTE = ("min", "max")


def _validate(aggs: dict) -> None:
    for out, (kind, col) in aggs.items():
        if kind not in _RETRACTABLE + _RECOMPUTE:
            raise ValueError(
                f"mv aggregate {out!r}: unsupported kind {kind!r} "
                f"(retractable: {_RETRACTABLE}; recompute-touched-groups: "
                f"{_RECOMPUTE})"
            )
        if kind != "count" and not col:
            raise ValueError(f"mv aggregate {out!r}: {kind} needs a column")
        if out == _COUNT_COL:
            raise ValueError(f"{_COUNT_COL} is reserved")


def _agg_exprs(aggs: dict) -> list:
    exprs = [F.count(F.lit(1)).cast("bigint").alias(_COUNT_COL)]
    for out, (kind, col) in sorted(aggs.items()):
        if kind == "sum":
            exprs.append(F.sum(col).alias(out))
        elif kind == "min":
            exprs.append(F.min(col).alias(out))
        elif kind == "max":
            exprs.append(F.max(col).alias(out))
        else:
            exprs.append(F.count(F.lit(1)).cast("bigint").alias(out))
    return exprs


def _nullsafe(left: DataFrame, right: DataFrame, group_cols: list):
    """Null-safe group-key join condition: a NULL dimension value is a
    legitimate group (groupBy keeps it), and an equality join would
    silently fork it into duplicate MV rows / never refresh it."""
    cond = None
    for c in group_cols:
        eq = left[c].eqNullSafe(right[c])
        cond = eq if cond is None else (cond & eq)
    return cond


def fold_change_deltas(
    mv: DataFrame | None,
    changes: DataFrame,
    group_cols: list,
    aggs: dict,
    count_col: str = _COUNT_COL,
) -> DataFrame:
    """Merge a change frame's SIGNED per-group deltas into an MV frame
    (insert/update_postimage add, delete/update_preimage retract) —
    the one retractable-aggregate fold: the batch refresh
    (:func:`refresh_agg_mv`), the streaming sinks
    (``streaming.streams.foreach_batch_mv_from_cdf`` and
    ``foreach_batch_incremental_gold``) and the ``incremental_gold_refresh``
    registry query all call it. ``count_col`` names the per-group row
    count the retraction keys on (the Gold tables call it ``n_rows``).
    ``mv=None`` starts from an empty view (the MV as a pure function of
    the feed). Zero-count groups leave the result — keeping them would
    serve sum=0 for a group that no longer exists.

    The merge with ``mv`` is NULL-SAFE on the group columns: GROUP BY
    puts all NULL keys in one group, so a NULL group's delta must fold
    into its stored row, not dangle beside it. Parity with a full
    recompute is pinned in tests/test_incremental.py."""
    sign = F.when(
        F.col("_change_type").isin(*_INSERTS), F.lit(1)
    ).otherwise(F.lit(-1))
    delta_exprs = [F.sum(sign).cast("bigint").alias(f"__d_{count_col}")]
    for out, (kind, col) in sorted(aggs.items()):
        src = F.col(col) if kind == "sum" else F.lit(1)
        delta_exprs.append(F.sum(sign * src).alias(f"__d_{out}"))
    deltas = changes.groupBy(*group_cols).agg(*delta_exprs)

    value_cols = [count_col, *sorted(aggs)]
    if mv is None:
        merged = deltas.select(
            *group_cols,
            *[
                F.coalesce(F.col(f"__d_{c}"), F.lit(0)).alias(c)
                for c in value_cols
            ],
        )
    else:
        merged = mv.join(
            deltas, on=_nullsafe(mv, deltas, group_cols), how="full_outer"
        ).select(
            *[F.coalesce(mv[c], deltas[c]).alias(c) for c in group_cols],
            *[
                (
                    F.coalesce(mv[c], F.lit(0))
                    + F.coalesce(deltas[f"__d_{c}"], F.lit(0))
                ).alias(c)
                for c in value_cols
            ],
        )
    return merged.filter(F.col(count_col) > 0)


def create_agg_mv(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    group_cols: list,
    aggs: dict,
) -> dict:
    """Full-compute bootstrap of a grouped MV over a CDF-enabled base
    table. ``aggs`` maps output column -> (kind, source_col) with kind
    in {"sum", "count"} (delta-refreshed) or {"min", "max"}
    (touched-groups-refreshed). The definition and the base version the
    MV reflects commit atomically with the data (marker ``txn``)."""
    _validate(aggs)
    marker = mt._read_marker(base_path)
    if not marker:
        raise ValueError(f"{base_path} is not a managed table")
    if not mt._cdf_on(marker):
        raise ValueError(
            f"{base_path}: incremental MV maintenance needs the "
            f"{mt._CDF_PROP} table property — without a change feed every "
            "refresh would be a recompute"
        )
    base_version = mt.table_version(base_path)
    # PIN the bootstrap scan to the probed version: a base commit landing
    # between this probe and the scan's evaluation would otherwise build
    # an MV reflecting v_new while the cursor records v_old — the next
    # refresh then re-applies (v_old, v_new] and double-counts. read()
    # serves a pinned version from __history when the head has moved.
    mv = (
        mt.read(spark, base_path, version=base_version)
        .groupBy(*group_cols)
        .agg(*_agg_exprs(aggs))
    )
    mt.commit_overwrite(
        mv,
        mv_path,
        keys=tuple(group_cols),
        txn={
            "mv_base_path": base_path,
            "mv_base_version": int(base_version),
            "mv_group_cols": list(group_cols),
            "mv_aggs": {k: list(v) for k, v in aggs.items()},
        },
    )
    return {"base_version": int(base_version), "rows": None}


def refresh_agg_mv(
    spark: SparkSession, base_path: str, mv_path: str
) -> dict:
    """O(changes) refresh: read ``table_changes`` from the MV's cursor
    to the base head, fold signed per-group deltas, merge into the MV,
    and advance the cursor atomically with the merged snapshot.
    Raises if the feed has a hole (an unrecorded commit in the range) —
    rebuilding via :func:`create_agg_mv` is the honest fallback; a
    silent partial refresh would serve wrong aggregates forever."""
    txn = mt.table_txn(mv_path)
    if txn.get("mv_base_path") != base_path:
        raise ValueError(
            f"{mv_path} is not an MV over {base_path} "
            f"(txn records {txn.get('mv_base_path')!r})"
        )
    last = int(txn["mv_base_version"])
    cur = mt.table_version(base_path)
    if cur == last:
        return {"refreshed": False, "base_version": last, "changes": 0}
    group_cols = list(txn["mv_group_cols"])
    aggs = {k: tuple(v) for k, v in txn["mv_aggs"].items()}
    mv_version = mt.table_version(mv_path)

    # (last, cur]: every change committed after the cursor — the range
    # must still be RETAINED (max_history / vacuum prune sidecars with
    # their snapshots; refresh at least as often as the base retains)
    ch = mt.table_changes(spark, base_path, last, cur)
    mv = mt.read(spark, mv_path)
    if any(kind in _RECOMPUTE for kind, _ in aggs.values()):
        # min/max present: recompute exactly the groups the feed names
        # (semi-join prunes the base scan to touched groups — zone/
        # partition-pruned when the table is clustered on the key);
        # untouched groups keep their stored row, vanished groups
        # produce no fresh row and leave the MV
        touched = ch.select(*group_cols).distinct()
        # pinned to ``cur`` (the cursor this refresh records): a base
        # commit racing the refresh would otherwise recompute touched
        # groups at a NEWER state than the cursor claims — idempotent
        # (the next refresh re-touches them) but version-inconsistent
        # until it runs
        base = mt.read(spark, base_path, version=cur)
        fresh = (
            base.join(touched, on=_nullsafe(base, touched, group_cols), how="left_semi")
            .groupBy(*group_cols)
            .agg(*_agg_exprs(aggs))
        )
        merged = mv.join(
            touched, on=_nullsafe(mv, touched, group_cols), how="left_anti"
        ).unionByName(fresh)
        strategy = "touched_groups"
    else:
        merged = fold_change_deltas(mv, ch, group_cols, aggs)
        strategy = "delta"
    mt.commit_overwrite(
        merged,
        mv_path,
        keys=tuple(group_cols),
        expected_version=mv_version,  # concurrent refreshes lose cleanly
        txn={**txn, "mv_base_version": int(cur)},
    )
    return {
        "refreshed": True,
        "base_version": int(cur),
        "from": last + 1,
        "strategy": strategy,
    }


def refresh_join_mv_fact_changes(
    old_mv: DataFrame,
    changes: DataFrame,
    dim: DataFrame,
    fact_key: Sequence[str],
    join_on: Sequence[str],
    change_col: str = "_change_type",
) -> DataFrame:
    """CDC-driven maintenance of a fact-side JOIN materialized view
    (``MV = fact JOIN dim``) — the delta-join rule: because the dim
    side is unchanged, ``MV' = (MV ANTI removed-keys) UNION
    (inserted-facts JOIN dim)``, which costs O(|changes|) join work
    plus one anti-join probe of the MV, never a fact-table rescan.

    ``changes`` carries ``change_col`` rows from ``read_changes``
    (insert / delete / update_pre/postimage). The removed-key set is
    tiny (it IS the change batch), so the anti-join broadcasts; the
    re-join of inserted rows against ``dim`` is the only shuffle and
    it is |Δ|-sized. Parity with a full recompute is pinned in
    tests/test_incremental.py and by the registry oracle.
    """
    removed = (
        changes.filter(F.col(change_col).isin("delete", "update_preimage"))
        .select(*fact_key)
        .distinct()
    )
    added = (
        changes.filter(F.col(change_col).isin("insert", "update_postimage"))
        .drop(change_col)
        .join(dim, on=list(join_on))
    )
    survivors = old_mv.join(
        F.broadcast(removed), on=list(fact_key), how="left_anti"
    ).select(*old_mv.columns)
    return survivors.unionByName(added.select(*old_mv.columns))


def refresh_join_mv_dim_update(
    old_mv: DataFrame,
    dim_post: DataFrame,
    dim_key: Sequence[str],
    dim_cols: Sequence[str],
) -> DataFrame:
    """Dim-side maintenance of the same join MV: when dimension
    ATTRIBUTES change (key set unchanged), every MV row carrying an
    affected key gets its dim columns rewritten in place — one scan of
    the MV with a BROADCAST join against the (small) post-image, no
    fact re-join, no shuffle of the MV itself.

    ``dim_post`` holds ``dim_key`` + the refreshed ``dim_cols``.
    """
    changed_keys = dim_post.select(*dim_key)
    untouched = old_mv.join(
        F.broadcast(changed_keys), on=list(dim_key), how="left_anti"
    ).select(*old_mv.columns)
    rewritten = old_mv.drop(*dim_cols).join(
        F.broadcast(dim_post), on=list(dim_key)
    )
    return untouched.unionByName(rewritten.select(*old_mv.columns))
