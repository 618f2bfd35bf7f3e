"""Scale-pattern queries: operators whose NAIVE formulation works on a
laptop but concentrates data on one task at 100 TB, re-expressed with the
distributed formulation as the registered (and oracle-checked) path.

The reference's engine exposes unpartitioned analytics the same way any
SQL surface does (``SUM() OVER (ORDER BY ...)`` with no PARTITION BY);
these queries prove the engine computes identical answers without ever
planning a single-partition WindowExec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from ..operators.prefix import global_running_sum
from .registry import query


@query(
    "global_running_revenue",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               OVER (ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_revenue_cents
    FROM orders
    """,
)
def global_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (UNPARTITIONED) running revenue over the full order history
    — the cumulative-bookings curve every finance dashboard wants.

    The oracle is the textbook single-sequence window; the engine side is
    ``operators.prefix.global_running_sum``: range-repartition on the
    order key, per-partition prefix, broadcast offset join. No row ever
    sees a single-partition WindowExec. Revenue is summed in integer
    CENTS (floor(x*100+0.5), trap #3/#8): bigint addition is associative,
    so the two-phase reassociation is bit-identical to DuckDB's
    sequential scan.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("__cents"),
    )
    out = global_running_sum(
        orders,
        order_keys=["o_orderdate", "o_orderkey"],
        value_col="__cents",
        out_col="running_revenue_cents",
    )
    return out.select("o_orderkey", "o_orderdate", "running_revenue_cents")


@query(
    "global_running_revenue_arrow",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               OVER (ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_revenue_cents
    FROM orders
    """,
)
def global_running_revenue_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same global prefix sum through the one-shuffle Arrow backend
    (per-partition cumsum carried across batches in ``mapInPandas``),
    oracle-checked against the identical sequential-window SQL — the
    Pandas-tier parity proof for ``global_running_sum``."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("__cents"),
    )
    out = global_running_sum(
        orders,
        order_keys=["o_orderdate", "o_orderkey"],
        value_col="__cents",
        out_col="running_revenue_cents",
        backend="arrow",
    )
    return out.select("o_orderkey", "o_orderdate", "running_revenue_cents")


@query(
    "sessions_overlap_pairs",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                         > 3600000000::BIGINT
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    tagged AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1
               AS session_id
        FROM ordered),
    bounds AS (
        SELECT user_id, session_id,
               MIN(epoch_us(ts)) AS lo,
               MAX(epoch_us(ts)) + 1 AS hi
        FROM tagged GROUP BY user_id, session_id)
    SELECT a.user_id AS u1, b.user_id AS u2,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps
    FROM bounds a JOIN bounds b
      ON a.lo < b.hi AND b.lo < a.hi AND a.user_id < b.user_id
    GROUP BY a.user_id, b.user_id
    ORDER BY n_overlaps DESC, u1, u2
    LIMIT 20
    """,
)
def sessions_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session analysis: top-20 user pairs by number of
    time-overlapping sessions (gap-based 1h sessionization, half-open
    [lo, hi) bounds on INTEGER microseconds — trap #10).

    Scale shape: the overlap predicate has no equi conjunct, so the
    naive join is a nested loop over |sessions|² (the oracle runs that
    on the small corpus). The engine side is
    ``operators.rangejoin.interval_overlap_join``: both sides explode
    into 1-hour buckets, pairs meet in their FIRST shared bucket only
    (a locally-computable guard, so no distinct over the pair set), and
    the exact predicate filters after the bucket equi-join. Work =
    sum(sessions per bucket²) per bucket — time-local, never global."""
    from ..operators.rangejoin import interval_overlap_join
    from ..operators.sessionize import sessionize

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    sess = sessionize(
        events, ["user_id"], "ts", gap_seconds=3600, order_tiebreak=["event_id"]
    )
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        (F.max(F.unix_micros("ts")) + 1).alias("hi"),
    )
    # both sides of the self-overlap consume `bounds`: materialize the
    # sessionization once (bounds is sessions-sized, far smaller than
    # events; 10.9s -> 3.3s at sf0.1, and at cluster scale the
    # equivalent is a cache/reliable checkpoint of the same table)
    bounds = cut_once(bounds, eager=True)
    pairs = interval_overlap_join(
        bounds, bounds, "lo", "hi", bucket_width=3_600_000_000
    )
    return (
        pairs.filter(F.col("user_id") < F.col("user_id_r"))
        .groupBy(
            F.col("user_id").alias("u1"), F.col("user_id_r").alias("u2")
        )
        .agg(F.count("*").alias("n_overlaps"))
        .orderBy(F.desc("n_overlaps"), F.asc("u1"), F.asc("u2"))
        .limit(20)
    )


@query(
    "global_percent_rank",
    oracle="""
    SELECT o_orderkey,
           floor(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey)
                 * 1e6 + 0.5) / 1e6 AS pct_rank
    FROM orders
    """,
)
def global_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global percentile rank of every order by price — rank-based
    feature normalization (quantile-uniform transform) over the WHOLE
    table, the second unpartitioned-analytics shape after running
    totals.

    Same machinery as ``global_running_revenue``: row_number is a
    distributed prefix sum of ones (range exchange + per-partition
    window + broadcast offsets), percent_rank = (rn-1)/(n-1) with the
    count joined in as a broadcast scalar. No single-partition
    WindowExec; the unique (price, key) order makes rank == row_number
    on both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("__one")
    )
    ranked = global_running_sum(
        orders,
        order_keys=["o_totalprice", "o_orderkey"],
        value_col="__one",
        out_col="__rn",
    )
    n = orders.agg(F.count("*").alias("__n"))
    return ranked.join(F.broadcast(n)).select(
        "o_orderkey",
        round_portable(
            (F.col("__rn") - 1).cast("double") / (F.col("__n") - 1), 6
        ).alias("pct_rank"),
    )


@query(
    "incremental_gold_refresh",
    oracle="""
    WITH final AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
                    THEN 2 * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               END AS cents
        FROM orders
        WHERE o_orderkey % 11 <> 0
    )
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(cents) AS sum_cents
    FROM final
    GROUP BY o_orderpriority
    """,
)
def incremental_gold_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance from the change feed, end to
    end: load a base snapshot of orders into a managed table, apply a
    deterministic batch of churn (inserts of the held-out keys, price
    doublings, deletes), and refresh the Gold aggregate from
    ``read_changes`` — O(|changes|) — instead of rescanning the fact
    table (the reference's Gold job recomputes from full Silver every
    run; at 100 TB that rescan dominates the pipeline).

    The ORACLE aggregates the final state reconstructed directly from
    the orders view, so the diff classification, the signed delta
    aggregate, group birth/death handling, and version time-travel all
    have to be right for the hashes to match. Money is integer cents
    throughout (trap #3/#8)."""
    import tempfile

    from ..sources import managed_table as mt
    from ..sources.incremental import refresh_count_sum_aggregate

    # cut once: base / inserts / updates all slice this projection, and
    # the merge machinery re-evaluates its source — uncut, the orders
    # scan ran 8x per execution (r13 opt, SQL-metric evidence)
    orders = cut_once(load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ))
    path = tempfile.mkdtemp(prefix="inc_gold_") + "/t"
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    mt.initial_write(base, path, keys=("o_orderkey",))
    v0 = mt.table_version(path)
    old_agg = cut_once(
        mt.read(spark, path)
        .groupBy("grp")
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("sum_cents")),
        eager=True,
    )
    inserts = orders.filter(F.col("o_orderkey") % 5 == 0)
    updates = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 5 != 0)
    ).withColumn("cents", F.col("cents") * 2)
    mt.merge_upsert(spark, path, inserts.unionByName(updates), keys=("o_orderkey",))
    mt.delete_where(spark, path, "o_orderkey % 11 = 0")
    changes = mt.read_changes(spark, path, v0, keys=("o_orderkey",))
    return refresh_count_sum_aggregate(
        old_agg, changes, keys=["grp"], count_col="n_rows",
        sums={"sum_cents": "cents"},
    )
