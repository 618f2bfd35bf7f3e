"""The shared lineage-cut helper (operators/materialize.py): guard
idempotence, reliable-checkpoint switching, and the block-release story
for long-lived sessions (r13 verdict item 3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.operators.materialize import (
    CUT_DIR_CONF,
    cut_once,
    release_cuts,
    set_checkpoint_dir,
)


def _n_persistent(spark) -> int:
    return len(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def test_cut_once_release_frees_blocks(spark):
    release_cuts(spark)  # isolate from earlier tests
    base = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    cut = cut_once(base)
    # lazy: no blocks pinned until an action runs
    assert cut.count() == 1000
    assert _n_persistent(spark) >= 1
    released = release_cuts(spark)
    assert released >= 1
    assert _n_persistent(spark) == 0


def test_cut_once_idempotent_on_materialized_frame(spark):
    release_cuts(spark)
    cut = cut_once(spark.range(100))
    again = cut_once(cut)
    # the LogicalRDD guard must hand back the SAME frame — a second
    # checkpoint would copy every block
    assert again is cut
    release_cuts(spark)


def test_cut_once_reliable_checkpoint_dir(spark, tmp_path):
    release_cuts(spark)
    ckpt = str(tmp_path / "ckpt")
    cut = cut_once(spark.range(500), checkpoint_dir=ckpt)
    assert cut.count() == 500
    # reliable checkpoint wrote files under the directory
    found = any(files for _, _, files in os.walk(ckpt))
    assert found, "reliable checkpoint produced no files"
    release_cuts(spark)


def test_checkpoint_dir_set_only_when_changed(spark, tmp_path, monkeypatch):
    """Sequential reliable cuts into dir A then dir B each land in their
    own dir; a repeated dir makes no second setCheckpointDir call."""
    release_cuts(spark)
    sc = spark.sparkContext
    calls = []
    orig = type(sc).setCheckpointDir

    def counted(self, d):
        calls.append(d)
        return orig(self, d)

    monkeypatch.setattr(type(sc), "setCheckpointDir", counted)
    dir_a, dir_b = str(tmp_path / "ckpt_a"), str(tmp_path / "ckpt_b")

    def files_in(d):
        return sum(len(files) for _, _, files in os.walk(d))

    assert cut_once(spark.range(100), checkpoint_dir=dir_a).count() == 100
    n_a = files_in(dir_a)
    assert n_a > 0
    assert cut_once(spark.range(50), checkpoint_dir=dir_a).count() == 50
    set_checkpoint_dir(spark, dir_a)
    assert calls == [dir_a]  # the repeats reused the current dir
    assert files_in(dir_a) > n_a
    assert cut_once(spark.range(70), checkpoint_dir=dir_b).count() == 70
    assert calls == [dir_a, dir_b]
    assert files_in(dir_b) > 0
    assert os.path.dirname(sc.getCheckpointDir()).endswith("ckpt_b")
    release_cuts(spark)


def test_cut_once_session_conf_switches_all_sites(spark, tmp_path):
    release_cuts(spark)
    ckpt = str(tmp_path / "conf_ckpt")
    spark.conf.set(CUT_DIR_CONF, ckpt)
    try:
        cut = cut_once(spark.range(200))
        assert cut.count() == 200
        found = any(files for _, _, files in os.walk(ckpt))
        assert found, "conf-driven reliable checkpoint produced no files"
    finally:
        spark.conf.unset(CUT_DIR_CONF)
        release_cuts(spark)


def test_kcore_releases_per_round_survivor_sets(spark):
    """kcore's per-round survivor set is persist/unpersist-scoped — a
    long peel must not pin one RDD copy per round (r13 advice)."""
    from aws_callcenter_delta_lakehouse_spark.operators.components import kcore

    release_cuts(spark)
    edges = spark.createDataFrame(
        # a 4-clique plus a tail that peels over several rounds
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 7)],
        ["src", "dst"],
    )
    out = kcore(edges, k=3)
    assert sorted(r["vertex"] for r in out.collect()) == [1, 2, 3, 4]
    # only lineage-cut blocks may remain (edges cut + per-round
    # truncations); every per-round `keep` persist must be released.
    # keep-persists are plain MEMORY_AND_DISK persists of a groupBy
    # output; rounds ran >= 2, so a leak would show as >= 2 extra RDDs
    # beyond the truncation chain. Tightest observable invariant: the
    # persistent set must not grow with the round count — bound it.
    n_left = _n_persistent(spark)
    assert n_left <= 6, f"{n_left} persistent RDDs left — per-round leak"
    release_cuts(spark)
