from __future__ import annotations

import uuid

import pytest

from aws_callcenter_delta_lakehouse_spark.session import get_spark

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by a fresh job group
    on the session's SparkContext."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    # local[8], NOT the bench's local[$SPARK_GRAFT_CPUS]: test frames are
    # tiny, so at 32 cores task-scheduling overhead dominates (measured
    # 1.6x slower on test_dml). Scaling behavior is the bench's job; the
    # suite's job is semantics. Tests that need their own topology
    # (cross-process races) build their own sessions.
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
