"""Shared lineage-cut helper for multi-referenced subtrees.

Spark never reuses a non-exchange subtree across plan branches: a frame
referenced by both sides of a self-join, several union arms, or a
scalar probe plus the main pipeline re-executes once PER REFERENCE
(measured 2-7x on the dedup/graph/text families in round 13, guide
§2.4). The fix is to materialize the subtree exactly once and let every
reference scan the materialized blocks.

``cut_once`` is that fix, and it is also the ONE lineage cut of the
library: iterative operators (graph, BPE, PQ, k-means) truncate every
round through it with ``eager=True``. Two safety properties follow
from routing every cut here:

- **Fault tolerance at scale**: the session conf
  ``spark.managedTable.cutCheckpointDir`` is the single switch. Set it
  to an HDFS/S3 directory and every cut becomes a RELIABLE
  ``df.checkpoint()`` into it, surviving executor loss. Unset, a cut
  is an executor-local ``localCheckpoint`` — fine in local mode or when
  losing an executor may fail the job (it is retried), wrong for long
  multi-hour jobs on preemptible nodes.
- **Release story for long-lived sessions**: local-checkpoint blocks
  have no DataFrame handle to unpersist, so a session that runs many
  queries accumulates them (bench.py sweeps between queries; a
  production session must do the same). ``release_cuts(spark)``
  unpersists every pinned RDD block — call it between pipeline stages
  once the cut frames are no longer needed; ``scoped_cuts(spark)``
  releases only the blocks pinned inside a ``with`` block. CAUTION: a
  cut frame's lineage is truncated; once released it cannot be
  recomputed and must not be referenced again.

The ``LogicalRDD`` guard makes the helper idempotent: a frame that is
already a materialized RDD scan (an earlier checkpoint) passes through
untouched — a second checkpoint would copy every block for nothing.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


#: Session conf that switches EVERY ``cut_once`` call to reliable
#: checkpoints at once — set it to an HDFS/S3 directory on a real
#: cluster and all lineage cuts across the library become
#: fault-tolerant without touching call sites.
CUT_DIR_CONF = "spark.managedTable.cutCheckpointDir"


def set_checkpoint_dir(spark: SparkSession, checkpoint_dir: str) -> None:
    """Point the session's reliable checkpoints at ``checkpoint_dir``
    — called by ``cut_once`` with the conf's value on every reliable
    cut.

    A session has ONE reliable-checkpoint directory at a time: Spark's
    ``setCheckpointDir`` is SparkContext-global state, and each call
    creates a fresh uuid subdirectory under the given one. The call is
    therefore made only when the dir differs from the session's current
    one (``getCheckpointDir()`` minus that subdirectory) — repeated cuts
    into the same dir make no second JVM call and share one
    subdirectory."""
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if current is not None:
        hpath = sc._jvm.org.apache.hadoop.fs.Path
        want = hpath(checkpoint_dir)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        if hpath(current).getParent().equals(want):
            return
    sc.setCheckpointDir(checkpoint_dir)


def cut_once(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage: materialize it exactly once and let
    every reference scan the materialized blocks.

    Lazy by default — the first action over the frame persists the
    blocks, no extra job (multi-reference cuts). ``eager=True`` runs the
    materializing job now (per-round cuts of iterative operators). The
    session conf ``spark.managedTable.cutCheckpointDir``, read on every
    call, makes the cut a reliable ``df.checkpoint()`` into that
    directory (cluster-safe); unset, an executor-local
    ``localCheckpoint``."""
    if df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD":
        return df
    checkpoint_dir = df.sparkSession.conf.get(CUT_DIR_CONF, None)
    if checkpoint_dir is not None:
        set_checkpoint_dir(df.sparkSession, checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_cuts(spark: SparkSession) -> int:
    """Unpersist every RDD block pinned by ``cut_once`` /
    ``localCheckpoint`` in this session and return how many RDDs were
    released. SQL ``clearCache()`` does NOT cover these — they are RDD
    persistence, not SQL cache (CLAUDE.md perf trap 4). Only call once
    every frame cut so far is fully consumed: their lineage is
    truncated, so a released cut frame cannot be recomputed."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist()
    return len(rdds)


@contextmanager
def scoped_cuts(spark: SparkSession) -> Iterator[None]:
    """Release, on exit (normal or exceptional), every RDD first
    persisted inside the ``with`` block — the cuts a job made for
    itself — and nothing pinned before it. For a job run repeatedly in
    a long-lived session; no frame cut inside the block may be
    referenced after it."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        yield
    finally:
        for rid, jrdd in jsc.getPersistentRDDs().items():
            if rid not in before:
                jrdd.unpersist(False)
