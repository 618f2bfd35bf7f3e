"""Gold job: Silver scan -> three projections -> three aggregates ->
three MERGE upserts.

Re-expression of ``/root/reference/glue_jobs/02_gold_analytics.py``.
Semantics preserved exactly (incl. quirks Q3-Q5, SURVEY.md §2.10):

- ``call_date`` IS the processing date (README.md:95) — every run
  aggregates the whole of Silver onto one date and re-merges it;
- status counting is case-sensitive equality while validation was
  case-insensitive (Q3);
- midnight-crossing calls (negative duration) drop from the duration
  table only (Q4).

One improvement over the reference: Silver is scanned ONCE and cached
for the three aggregates (the reference re-reads it per table,
SURVEY §3.2 step 5) — at 100 TB the three scans are the dominant cost.
"""

from __future__ import annotations

import datetime as dt
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import managed_table
from .gold import duration_metrics, with_rate

PARTITIONS = ("year", "month")
STATUSES = ("COMPLETED", "DROPPED", "FAILED")
_NAMES = {"COMPLETED": "completed_calls", "DROPPED": "dropped_calls", "FAILED": "failed_calls"}


def _status_agg(df: DataFrame, keys: list[str]) -> DataFrame:
    """count(*) + the three case-sensitive conditional counts
    (02_gold_analytics.py:51-72)."""
    aggs = [F.count("*").alias("total_calls")] + [
        F.sum(F.when(F.col("call_status") == s, 1).otherwise(0)).alias(_NAMES[s])
        for s in STATUSES
    ]
    return with_rate(df.groupBy(*keys).agg(*aggs), "completed_calls")


@contextmanager
def _gold_tables(spark: SparkSession, silver_path: str, processing_date: dt.date):
    """The three Gold aggregates over one cached Silver scan, as
    ``(table name, frame, merge keys)``; the scan is released on exit,
    so publish inside the ``with``."""
    # Column pruning + call_date stamp (02_gold_analytics.py:35-38).
    base = (
        managed_table.read(spark, silver_path)
        .select("call_id", "agent_id", "call_start_time", "call_end_time", "call_status")
        .withColumn("call_date", F.lit(processing_date))
        .cache()
    )
    try:
        # duration_sec from HH:mm:ss strings; negative (midnight-crossing)
        # durations dropped (02_gold_analytics.py:40-43, quirk Q4).
        # try_to_timestamp keeps the reference's Spark-3 semantics
        # (unparseable -> NULL -> row drops) under Spark 4 ANSI mode.
        with_duration = base.withColumn(
            "duration_sec",
            F.unix_timestamp(F.try_to_timestamp(F.col("call_end_time"), F.lit("HH:mm:ss")))
            - F.unix_timestamp(F.try_to_timestamp(F.col("call_start_time"), F.lit("HH:mm:ss"))),
        ).filter(F.col("duration_sec") >= 0)
        yield (
            ("gold_call_daily_summary", _status_agg(base, ["call_date"]), ("call_date",)),
            (
                "gold_agent_performance",
                _status_agg(base, ["agent_id", "call_date"]),
                ("call_date", "agent_id"),
            ),
            (
                "gold_call_duration_metrics",
                duration_metrics(with_duration, "call_date", "duration_sec"),
                ("call_date",),
            ),
        )
    finally:
        base.unpersist()


def gold_job(
    spark: SparkSession,
    silver_path: str,
    gold_root: str,
    processing_date: dt.date | None = None,
) -> dict[str, str]:
    """Build/merge the three Gold tables; returns per-table action."""
    processing_date = processing_date or dt.date.today()
    prcsd_date = F.lit(processing_date)
    with _gold_tables(spark, silver_path, processing_date) as tables:
        return {
            name: managed_table.write_or_merge(
                spark,
                df.withColumns({"year": F.year(prcsd_date), "month": F.month(prcsd_date)}),
                f"{gold_root}/{name}",
                keys,
                PARTITIONS,
            )
            for name, df, keys in tables
        }


def gold_job_txn(
    spark: SparkSession,
    silver_path: str,
    gold_root: str,
    catalog_dir: str,
    processing_date: dt.date | None = None,
) -> int:
    """The Gold publish as ONE multi-table transaction: all three
    aggregates (same builder as :func:`gold_job`) become visible to
    catalog readers in a single atomic pointer flip — an analytics
    dashboard can never observe today's daily summary next to
    yesterday's agent table, the skew the per-table MERGE loop of
    :func:`gold_job` allows in its window between writes. Publishes
    full snapshots (the reference's Gold job is a full recompute per
    run anyway — 02_gold_analytics.py recomputes from all of Silver);
    returns the new catalog version. Snapshots are unpartitioned —
    partition pruning is superseded by the manifest's skipping stats
    at this layer."""
    from ..sources import txn_catalog

    processing_date = processing_date or dt.date.today()
    with _gold_tables(spark, silver_path, processing_date) as tables:
        return txn_catalog.commit_tables(
            {name: (df, f"{gold_root}/{name}", keys) for name, df, keys in tables},
            catalog_dir,
        )
