"""The shared lineage-cut helper (operators/materialize.py): guard
idempotence, reliable-checkpoint switching, and the block-release story
for long-lived sessions (r13 verdict item 3)."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import aws_callcenter_delta_lakehouse_spark as pkg

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
    spark.conf.set(CUT_DIR_CONF, ckpt)
    try:
        cut = cut_once(spark.range(500))
        assert cut.count() == 500
    finally:
        spark.conf.unset(CUT_DIR_CONF)
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

    try:
        spark.conf.set(CUT_DIR_CONF, dir_a)
        assert cut_once(spark.range(100)).count() == 100
        n_a = files_in(dir_a)
        assert n_a > 0
        assert cut_once(spark.range(50)).count() == 50
        set_checkpoint_dir(spark, dir_a)
        assert calls == [dir_a]  # the repeats reused the current dir
        assert files_in(dir_a) > n_a
        spark.conf.set(CUT_DIR_CONF, dir_b)
        assert cut_once(spark.range(70)).count() == 70
    finally:
        spark.conf.unset(CUT_DIR_CONF)
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


# ---------------------------------------------------------------------------
# One helper: the conf reaches every iterative operator's per-round cuts
# ---------------------------------------------------------------------------


def _graph(spark):
    # a triangle plus a tail: every graph operator does real work on it
    return spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (1, 3, 5), (3, 4, 2)], "src long, dst long, w long"
    )


def _emb(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 5) - 2.0 + 0.1 * j for j in range(4)])
        for i in range(8)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _docs(spark):
    return spark.createDataFrame(
        [("low lower lowest",), ("newer newest new",), ("wider low new",)],
        "text string",
    )


def _run(spark, name):
    from aws_callcenter_delta_lakehouse_spark.operators import bpe, components, pq
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import kmeans_refine

    g = _graph(spark)
    if name == "connected_components":
        return components.connected_components(
            g, "src", "dst", max_iterations=1, on_nonconverged="warn"
        )
    if name == "pagerank":
        return components.pagerank(g, iterations=1)
    if name == "kcore":
        return components.kcore(g, k=2)
    if name == "label_propagation":
        return components.label_propagation(g, max_iterations=1)
    if name == "bfs_hops":
        return components.bfs_hops(g, 1, max_hops=1)
    if name == "sssp_weighted":
        return components.sssp_weighted(g, 1, max_hops=1)
    if name == "multi_source_bfs":
        seeds = spark.createDataFrame([(1,), (3,)], "seed long")
        return components.multi_source_bfs(g, seeds, max_hops=1)
    if name == "bpe_train":
        return bpe.bpe_train(_docs(spark), "text", rounds=1)
    if name == "bpe_apply":
        merges = spark.createDataFrame(
            [(1, "l", "o")], "round int, pair_a string, pair_b string"
        )
        return bpe.bpe_apply(_docs(spark), "text", merges, rounds=1)
    emb = _emb(spark)
    if name == "pq_train":
        return pq.pq_train(emb, dim=4, m=2, num_codes=2, iterations=1)
    if name == "pq_topk":
        q = spark.createDataFrame([([1.0, 0.5, -1.0, 2.0],)], "q array<double>")
        return pq.pq_topk(emb, q, dim=4, m=2, num_codes=2, k=3, iterations=1)
    if name == "ivfpq_topk":
        queries = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return pq.ivfpq_topk(
            emb, queries, dim=4, m=2, num_codes=2, num_centroids=2, nprobe=1,
            k=2, iterations=1, refine_iterations=1,
        )
    assert name == "kmeans_refine"
    seed = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    return kmeans_refine(emb, seed, iterations=1)


def _rows(df):
    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    return sorted((norm(tuple(r)) for r in df.collect()), key=repr)


# the graph cases run by default; the BPE/PQ/k-means cases (~50 s
# together) join the slow battery
_ITERATIVE = [
    "connected_components", "pagerank", "kcore", "label_propagation",
    "bfs_hops", "sssp_weighted", "multi_source_bfs",
] + [
    pytest.param(name, marks=pytest.mark.slow)
    for name in (
        "bpe_train", "bpe_apply", "pq_train", "pq_topk", "ivfpq_topk",
        "kmeans_refine",
    )
]


@pytest.mark.filterwarnings("ignore::RuntimeWarning")
@pytest.mark.parametrize("name", _ITERATIVE)
def test_cut_dir_conf_reaches_every_round(spark, tmp_path, monkeypatch, name):
    """With the cut-dir conf set, no iterative operator may fall back to
    an executor-local checkpoint anywhere — and the reliable run returns
    the same rows as the default local one."""
    want = _rows(_run(spark, name))

    def _local_forbidden(self, *a, **k):
        raise AssertionError("localCheckpoint called with the cut-dir conf set")

    monkeypatch.setattr(type(spark.range(0)), "localCheckpoint", _local_forbidden)
    spark.conf.set(CUT_DIR_CONF, str(tmp_path / "ckpt"))
    try:
        got = _rows(_run(spark, name))
    finally:
        spark.conf.unset(CUT_DIR_CONF)
    assert got == want
    release_cuts(spark)


def test_every_cut_goes_through_cut_once():
    """The single-helper invariant: no ``.localCheckpoint(`` or
    ``.checkpoint(`` call anywhere in the package outside
    ``operators/materialize.py``."""
    root = Path(pkg.__file__).parent
    helper = root / "operators" / "materialize.py"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == helper:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []
