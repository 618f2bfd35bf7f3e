"""Shared lineage-cut helper for multi-referenced subtrees.

Spark never reuses a non-exchange subtree across plan branches: a frame
referenced by both sides of a self-join, several union arms, or a
scalar probe plus the main pipeline re-executes once PER REFERENCE
(measured 2-7x on the dedup/graph/text families in round 13, guide
§2.4). The fix is to materialize the subtree exactly once and let every
reference scan the materialized blocks.

``cut_once`` is that fix with the two safety properties the round-13
ad-hoc sites lacked (round-13 verdict item 3):

- **Fault tolerance at scale**: ``checkpoint_dir=`` switches the cut to
  a RELIABLE ``df.checkpoint()`` into that directory (HDFS/S3 on a real
  cluster), surviving executor loss. The default ``localCheckpoint``
  stores blocks on executors — fine in local mode or when losing an
  executor may fail the job (it is retried), wrong for long multi-hour
  jobs on preemptible nodes.
- **Release story for long-lived sessions**: local-checkpoint blocks
  have no DataFrame handle to unpersist, so a session that runs many
  queries accumulates them (bench.py sweeps between queries; a
  production session must do the same). ``release_cuts(spark)``
  unpersists every pinned RDD block — call it between pipeline stages
  once the cut frames are no longer needed. CAUTION: a cut frame's
  lineage is truncated; after ``release_cuts`` it cannot be recomputed
  and must not be referenced again.

The ``LogicalRDD`` guard makes the helper idempotent: a frame that is
already a materialized RDD scan (an earlier checkpoint) passes through
untouched — a second checkpoint would copy every block for nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


#: Session conf that switches EVERY ``cut_once`` site to reliable
#: checkpoints at once — set it to an HDFS/S3 directory on a real
#: cluster and all multi-reference cuts across the operator library
#: become fault-tolerant without touching call sites.
CUT_DIR_CONF = "spark.managedTable.cutCheckpointDir"


def set_checkpoint_dir(spark: SparkSession, checkpoint_dir: str | None) -> None:
    """Point the session's reliable checkpoints at ``checkpoint_dir``
    (no-op for None) — the one path every operator's ``checkpoint_dir=``
    goes through.

    A session has ONE reliable-checkpoint directory at a time: Spark's
    ``setCheckpointDir`` is SparkContext-global state, and each call
    creates a fresh uuid subdirectory under the given one. The call is
    therefore made only when the dir differs from the session's current
    one (``getCheckpointDir()`` minus that subdirectory) — repeated cuts
    into the same dir make no second JVM call and share one
    subdirectory. Concurrent callers with DIFFERENT dirs still repoint
    each other; use one checkpoint dir per session."""
    if checkpoint_dir is None:
        return
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if current is not None:
        hpath = sc._jvm.org.apache.hadoop.fs.Path
        want = hpath(checkpoint_dir)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        if hpath(current).getParent().equals(want):
            return
    sc.setCheckpointDir(checkpoint_dir)


def cut_once(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize a multi-referenced subtree exactly once (lazy — the
    first action over the frame persists the blocks; no extra job).

    ``checkpoint_dir``: when set, the cut is a reliable
    ``df.checkpoint(eager=False)`` into that directory (cluster-safe);
    when None, the session conf ``spark.managedTable.cutCheckpointDir``
    is consulted (one conf makes every cut in the library reliable);
    absent both, an executor-local ``localCheckpoint``."""
    if df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD":
        return df
    if checkpoint_dir is None:
        checkpoint_dir = df.sparkSession.conf.get(CUT_DIR_CONF, None)
    if checkpoint_dir is not None:
        set_checkpoint_dir(df.sparkSession, checkpoint_dir)
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


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
