"""Which live-marker fields each commit kind carries into the marker it
stages. A field counts as CARRIED when the new marker holds exactly the
live marker's value. The live marker is seeded with a distinctive value
for every field of PROTOCOL.md §2 (plus the ``last_rewrite_version``
append watermark), so a value a commit recomputes or drops never passes
for a carried one."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt

# PROTOCOL.md §2 fields, minus the feature lists (stamped from the
# content at every marker write, never carried)
_FIELDS = (
    "version", "ts", "keys", "partition_by", "txn", "constraints",
    "generated", "identity", "unique_keys", "properties", "stats",
    "operation", "dv", "has_cdf", "row_tracking", "column_mapping",
    "dropped_columns", "added_columns", "schema_json",
    "last_rewrite_version", "file_schema",
)
# passed explicitly to every commit's marker write
_TABLE_DECL = {
    "keys", "partition_by", "constraints", "generated", "unique_keys",
    "properties",
}

_EXPECTED = {
    # file_schema: the kinds whose staged files all carry the live
    # schema (the appended and post-image files agree with it); the
    # ``like`` stagings hold unrelated files, so their footers win
    "append": _TABLE_DECL | {
        "dv", "added_columns", "last_rewrite_version", "file_schema",
    },
    "dv_delete": _TABLE_DECL | {
        "identity", "row_tracking", "column_mapping", "dropped_columns",
        "added_columns", "schema_json", "file_schema",
    },
    # dropped_columns is left out of the seed: a pending drop sends a
    # DV update down the rewriting path
    "dv_update": _TABLE_DECL | {
        "identity", "row_tracking", "column_mapping", "added_columns",
        "schema_json", "file_schema",
    },
    "like": _TABLE_DECL | {
        "version", "txn", "identity", "has_cdf", "row_tracking",
        "schema_json", "last_rewrite_version",
    },
    "like_schema": _TABLE_DECL | {
        "version", "txn", "identity", "has_cdf", "row_tracking",
        "schema_json", "last_rewrite_version", "column_mapping",
        "dropped_columns", "added_columns",
    },
}


def _seed(spark, path) -> dict:
    """A row-tracked, identity/generated/PK table with an active
    deletion vector, then every remaining marker field set by hand."""
    mt.commit_overwrite(
        spark.range(1, 11).selectExpr("id", "id * 10 AS v"),
        path,
        keys=("id",),
        unique_keys=True,
        generated={"v2": "v * 2"},
        identity={"seq": {"start": 1, "step": 1}},
        properties={"enableRowTracking": True},
    )
    mt.delete_where(spark, path, "id = 10", deletion_vectors=True)
    m = mt._read_marker(path)
    m.update(
        txn={"app": "seed", "epoch": 3},
        constraints={"v_nonneg": "v >= 0"},
        properties={**m["properties"], "owner": "carry-test"},
        operation="seed_op",
        has_cdf=True,
        column_mapping={"ghost_logical": "ghost_phys"},
        dropped_columns=["ghost_dropped"],
        added_columns={"ghost_added": {"type": "bigint", "default": 7}},
        schema_json=mt.read(spark, path).drop("ghost_added").schema.json(),
        last_rewrite_version=1,
        stats={"n_rows": -1, "n_files": -1, "bytes": -1},
    )
    mt._replace_marker(path, m)
    return m


def _carried(old: dict, new: dict) -> set:
    return {f for f in _FIELDS if f in old and new.get(f) == old[f]}


@pytest.mark.parametrize(
    "kind", ["append", "dv_delete", "dv_update", "like", "like_schema"]
)
def test_carried_fields_by_commit_kind(spark, tmp_path, kind):
    path = str(tmp_path / "t")
    old = _seed(spark, path)
    assert set(_FIELDS) <= set(old)
    if kind == "append":
        # a pending rename/drop refuses the append (appended files
        # would fork the physical schema)
        for f in ("column_mapping", "dropped_columns"):
            old.pop(f)
        mt._replace_marker(path, dict(old))
        old = mt._read_marker(path)
        mt.append_rows(
            spark, spark.createDataFrame([(50, 5)], "id long, v long"), path
        )
        new = mt._read_marker(path)
    elif kind == "dv_delete":
        mt.delete_where(spark, path, "id = 1", deletion_vectors=True)
        new = mt._read_marker(path)
    elif kind == "dv_update":
        old.pop("dropped_columns")
        mt._replace_marker(path, dict(old))
        old = mt._read_marker(path)
        mt.update_where(
            spark, path, "id = 2", {"v": F.lit(99)}, deletion_vectors=True
        )
        new = mt._read_marker(path)
    else:
        staging = str(tmp_path / "staged")
        os.makedirs(staging)
        spark.range(3).write.mode("overwrite").parquet(
            os.path.join(staging, "part")
        )
        mt._write_marker_like(
            staging, old, carry_schema_metadata=(kind == "like_schema")
        )
        with open(os.path.join(staging, mt._MARKER)) as fh:
            new = json.load(fh)
    assert _carried(old, new) == _EXPECTED[kind]
