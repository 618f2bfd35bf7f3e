"""Inferential-statistics queries: the experiment-analysis layer a
product/ops team runs on the events table — two-proportion A/B test,
chi-square independence, Shannon entropy of the event mix.

Cross-engine exactness strategy (the round-4/round-11 playbook): all
COUNTS are exact integers; every per-cell floating term is computed in
one FIXED op order and quantized to integer micro-units before the
cross-cell SUM (group-aggregate association order differs between
engines, integer sums do not); ``ln``/``sqrt`` are cross-engine-stable
per the adamic-adar / dq_dp_noisy_counts precedents. Scale shape: each
query is one or two hash aggregates over the events scan — no joins
beyond a broadcastable totals frame, no windows over raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from .registry import query


@query(
    "stats_ab_test",
    oracle="""
    WITH arms AS (
      SELECT CAST(o_custkey % 2 AS INTEGER) AS arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
        MAX(CASE WHEN arm = 0 THEN x END) AS x_a,
        MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
        MAX(CASE WHEN arm = 1 THEN x END) AS x_b
      FROM arms),
    calc AS (
      SELECT n_a, x_a, n_b, x_b,
             CAST(x_a AS DOUBLE) / n_a AS p_a,
             CAST(x_b AS DOUBLE) / n_b AS p_b,
             CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS p_pool
      FROM wide)
    SELECT n_a, x_a, n_b, x_b,
           floor(p_a * 1e6 + 0.5) / 1e6 AS p_a,
           floor(p_b * 1e6 + 0.5) / 1e6 AS p_b,
           floor((p_b - p_a) * 1e6 + 0.5) / 1e6 AS lift,
           CASE WHEN p_pool > 0 AND p_pool < 1 THEN
             floor(((p_b - p_a)
                    / sqrt(p_pool * (1.0 - p_pool)
                           * (1.0 / n_a + 1.0 / n_b)))
                   * 1e6 + 0.5) / 1e6 END AS z
    FROM calc
    """,
)
def stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a deterministic 50/50 split (arm =
    o_custkey mod 2; metric = order finished, ~49% base rate): per-arm
    exact integer (n, x), pooled-variance z statistic in one fixed
    double op chain — the experiment-readout primitive. Degenerate
    pools (p in {0, 1} — se would be 0) report NULL z instead of a
    division error on BOTH engines. One hash aggregate + a 2-row
    pivot; nothing scales past the aggregate."""
    arms = (
        load_table(spark, sf_dir, "orders")
        .groupBy((F.col("o_custkey") % 2).cast("int").alias("arm"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).cast("bigint").alias("x"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x_b"),
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    p_pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p_pool * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        round_portable(p_a, 6).alias("p_a"),
        round_portable(p_b, 6).alias("p_b"),
        round_portable(p_b - p_a, 6).alias("lift"),
        F.when(
            (p_pool > 0) & (p_pool < 1),
            round_portable((p_b - p_a) / se, 6),
        ).alias("z"),
    )


@query(
    "stats_chi_square",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS INTEGER)
               AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    rows_ AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    cols_ AS (
      SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM obs),
    cells AS (
      SELECT obs.event_type, obs.dow, obs.o, rows_.r, cols_.c, tot.t,
             -- (O*T - R*C)^2 / (R*C*T), divisions chained so every
             -- intermediate stays inside double's exact-integer range
             CAST(obs.o * tot.t - rows_.r * cols_.c AS DOUBLE)
               * CAST(obs.o * tot.t - rows_.r * cols_.c AS DOUBLE)
               / CAST(rows_.r * cols_.c AS DOUBLE) / CAST(tot.t AS DOUBLE)
               AS term
      FROM obs
      JOIN rows_ ON obs.event_type = rows_.event_type
      JOIN cols_ ON obs.dow = cols_.dow
      CROSS JOIN tot),
    q AS (
      SELECT CAST(floor(term * 1e6 + 0.5) AS BIGINT) AS tq,
             event_type, dow
      FROM cells)
    SELECT CAST((SELECT COUNT(DISTINCT event_type) FROM obs) AS BIGINT)
             AS n_rows_,
           CAST((SELECT COUNT(DISTINCT dow) FROM obs) AS BIGINT) AS n_cols_,
           CAST(((SELECT COUNT(DISTINCT event_type) FROM obs) - 1)
                * ((SELECT COUNT(DISTINCT dow) FROM obs) - 1) AS BIGINT)
             AS df,
           CAST(SUM(tq) AS DOUBLE) / 1e6 AS chi2
    FROM q
    """,
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and day of
    week (epoch-day mod 7, engine-neutral): per-cell term
    ``(O*T - R*C)^2 / (R*C*T)`` computed in one fixed double chain from
    EXACT integer marginals, quantized to micro-units before the
    cross-cell SUM (integer sums are association-free; a double SUM
    would be engine-order-dependent — the round-11 playbook). Two hash
    aggregates + broadcastable marginal joins."""
    obs = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.pmod(
                F.datediff(
                    F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
                ),
                F.lit(7),
            ).cast("int").alias("dow"),
        )
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    rows_ = obs.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    cols_ = obs.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("t"))
    d = (F.col("o") * F.col("t") - F.col("r") * F.col("c")).cast("double")
    term = d * d / (F.col("r") * F.col("c")).cast("double") / F.col(
        "t"
    ).cast("double")
    cells = (
        obs.join(rows_, on="event_type")
        .join(cols_, on="dow")
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            F.floor(term * 1e6 + F.lit(0.5)).cast("bigint").alias("tq"),
        )
    )
    shape = obs.agg(
        F.countDistinct("event_type").cast("bigint").alias("n_rows_"),
        F.countDistinct("dow").cast("bigint").alias("n_cols_"),
    )
    return (
        cells.agg(F.sum("tq").alias("__s"))
        .join(F.broadcast(shape))
        .select(
            "n_rows_",
            "n_cols_",
            ((F.col("n_rows_") - 1) * (F.col("n_cols_") - 1))
            .cast("bigint")
            .alias("df"),
            (F.col("__s").cast("double") / F.lit(1e6)).alias("chi2"),
        )
    )


@query(
    "events_type_entropy",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT d, CAST(SUM(c) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM daily GROUP BY 1),
    terms AS (
      SELECT daily.d,
             CAST(floor(-(CAST(c AS DOUBLE) / t)
                        * ln(CAST(c AS DOUBLE) / t) * 1e12 + 0.5)
                  AS BIGINT) AS tq,
             tot.t, tot.n_types
      FROM daily JOIN tot ON daily.d = tot.d)
    SELECT d, MAX(t) AS n_events, MAX(n_types) AS n_types,
           floor((CAST(SUM(tq) AS DOUBLE) / 1e12) * 1e6 + 0.5) / 1e6
             AS entropy_nats
    FROM terms GROUP BY 1
    """,
)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each day's event-type mix — the
    mix-shift monitor that flags a day whose traffic composition
    changed even when totals did not. Per-(day, type) term
    ``-p ln p`` in one fixed double chain from exact integer counts,
    quantized to 1e-12 units before the per-day SUM (association-free);
    ``ln`` is cross-engine-stable per precedent. Two hash aggregates +
    one day-keyed join."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = daily.groupBy("d").agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    p = F.col("c").cast("double") / F.col("t")
    tq = F.floor(-p * F.log(p) * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    terms = daily.join(tot, on="d").select(
        "d", tq.alias("tq"), "t", "n_types"
    )
    return terms.groupBy("d").agg(
        F.max("t").alias("n_events"),
        F.max("n_types").alias("n_types"),
        round_portable(
            F.sum("tq").cast("double") / F.lit(1e12), 6
        ).alias("entropy_nats"),
    )


@query(
    "funnel_latency_percentiles",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v_us
      FROM events GROUP BY 1),
    conv AS (
      SELECT f.user_id,
             MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) - f.v_us AS lat_us
      FROM firsts f
      JOIN events e ON e.user_id = f.user_id
        AND e.event_type = 'purchase'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= f.v_us
      WHERE f.v_us IS NOT NULL
      GROUP BY f.user_id, f.v_us),
    ranked AS (
      SELECT lat_us,
             ROW_NUMBER() OVER (ORDER BY lat_us, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM conv)
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT)
                         THEN lat_us END) AS BIGINT) AS p50_us,
           CAST(SUM(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT)
                         THEN lat_us END) AS BIGINT) AS p90_us
    FROM ranked
    """,
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, microseconds from the
    FIRST view to the first purchase at-or-after it; p50/p90 by exact
    k-th SELECTION (rank ceil(n*q), type-1 lower quantile, user_id
    tie-break inside equal latencies — traps 6/10: integer
    microseconds end to end, so the ranked element is engine-exact,
    never an interpolated float). Complements the funnel counts
    (events_sequence_funnel) with the latency view an SLO dashboard
    needs. Two hash aggregates + one DISTRIBUTED global rank over the
    converted users: the rank is the two-phase prefix sum
    (``operators/prefix.py`` — range exchange + per-partition window +
    broadcast offsets), never a single-partition WindowExec, and the
    total count is a broadcast 1-row agg, not ``COUNT(*) OVER ()`` —
    converted-user cardinality scales with the data, so the r11 global
    window here was the one shape that would single-task at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "v_us"
        )
    ).filter(F.col("v_us").isNotNull())
    conv = (
        firsts.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("us").alias("p_us")
            ),
            on="user_id",
        )
        .filter(F.col("p_us") >= F.col("v_us"))
        .groupBy("user_id", "v_us")
        .agg((F.min("p_us") - F.first("v_us")).alias("lat_us"))
        .select("user_id", "lat_us")
    )
    from ..operators.prefix import global_running_sum

    # one evaluation of the events pipeline: the rank and the total
    # both read the checkpoint (the sampling range partitioner defeats
    # AQE exchange reuse, so lineage sharing alone re-executes it)
    conv = cut_once(conv)
    ranked = global_running_sum(
        conv.withColumn("__one", F.lit(1).cast("long")),
        ["lat_us", "user_id"],
        "__one",
        out_col="rk",
    ).join(F.broadcast(conv.agg(F.count("*").alias("n"))))
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.sum(
            F.when(
                F.col("rk") == F.ceil(F.col("n") * 0.5).cast("bigint"),
                F.col("lat_us"),
            )
        ).cast("bigint").alias("p50_us"),
        F.sum(
            F.when(
                F.col("rk") == F.ceil(F.col("n") * 0.9).cast("bigint"),
                F.col("lat_us"),
            )
        ).cast("bigint").alias("p90_us"),
    )


@query(
    "orders_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1),
    ranked AS (
      SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
             SUM(cents) OVER () AS total
      FROM rev),
    classed AS (
      SELECT cents,
             CASE WHEN CAST(cum AS DOUBLE) / total <= 0.7 THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / total <= 0.9 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked)
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM classed GROUP BY 1
    """,
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A = the head covering 70% of cumulative revenue, B to 90%,
    C the tail — the 80/20 working-capital report. Revenue in integer
    cents (trap 13) so the running cumulative sum is exact and the
    class boundary — an exact-integer ratio compared to 0.7/0.9 —
    cannot flip cross-engine; rank ties break on the part key (trap
    6). One hash aggregate + one DISTRIBUTED ordered running sum over
    the part-level rollup (two-phase prefix sum, ``operators/
    prefix.py`` — part cardinality scales with the catalog, so the r11
    single-partition window here was a 100 TB hazard; descending order
    rides the ascending range exchange on negated cents) + one class
    aggregate; the grand total is a broadcast 1-row agg, not
    ``SUM() OVER ()``."""
    from ..operators.prefix import global_running_sum

    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice").cast("double") * 100
                    + F.lit(0.5)
                ).cast("bigint")
            ).cast("bigint").alias("cents")
        )
    )
    # one lineitem rollup evaluation shared by rank + grand total
    rev = cut_once(rev)
    ranked = global_running_sum(
        rev.withColumn("__neg", -F.col("cents")),
        ["__neg", "l_partkey"],
        "cents",
        out_col="cum",
    ).join(
        F.broadcast(rev.agg(F.sum("cents").cast("bigint").alias("total")))
    )
    share = F.col("cum").cast("double") / F.col("total")
    classed = ranked.select(
        "cents",
        F.when(share <= 0.7, "A")
        .when(share <= 0.9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
