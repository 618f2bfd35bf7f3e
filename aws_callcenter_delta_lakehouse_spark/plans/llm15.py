"""Round-4 batch 3: SQL pipe syntax (Spark 4 `|>` operator chains),
Welch two-sample t-test A/B battery. Oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_all
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from .registry import query


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           floor(SUM(l_extendedprice) * 1e2 + 0.5) / 1e2 AS revenue
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY 1, 2
    HAVING COUNT(*) > 100
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-operator syntax (`|>`, Spark 4's linear query chaining
    — filter |> aggregate |> post-filter reads top-to-bottom instead of
    inside-out). Same Catalyst plan as the ANSI equivalent the oracle
    runs; purely a SQL-surface parity row."""
    register_all(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity > 10
        |> AGGREGATE COUNT(*) AS n_rows,
                     floor(SUM(l_extendedprice) * 1e2 + 0.5) / 1e2 AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_rows > 100
        """
    )


@query(
    "ab_test_welch_t",
    oracle="""
    WITH s AS (
      SELECT
        CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_a,
        CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_b,
        floor(AVG(CASE WHEN event_type = 'purchase' THEN value END) * 1e6 + 0.5) / 1e6 AS mean_a,
        floor(AVG(CASE WHEN event_type = 'view' THEN value END) * 1e6 + 0.5) / 1e6 AS mean_b,
        floor(var_samp(CASE WHEN event_type = 'purchase' THEN value END) * 1e6 + 0.5) / 1e6 AS var_a,
        floor(var_samp(CASE WHEN event_type = 'view' THEN value END) * 1e6 + 0.5) / 1e6 AS var_b
      FROM events)
    SELECT n_a, n_b, mean_a, mean_b,
           floor((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b) * 1e4 + 0.5) / 1e4 AS t_stat,
           floor(
             (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ( (var_a / n_a) * (var_a / n_a) / (n_a - 1)
               + (var_b / n_b) * (var_b / n_b) / (n_b - 1) )
             * 1e2 + 0.5) / 1e2 AS df_welch
    FROM s
    """,
)
def ab_test_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic + Welch-Satterthwaite degrees of
    freedom comparing purchase vs view event values — the A/B-test
    primitive, computed in ONE aggregate pass over the fact (conditional
    moments), no per-group subqueries. Cross-engine determinism: the
    moments are rounded FIRST, then both engines evaluate the identical
    closed-form expression on identical doubles."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    a = F.when(F.col("event_type") == "purchase", F.col("value"))
    b = F.when(F.col("event_type") == "view", F.col("value"))
    s = ev.agg(
        F.count(a).alias("n_a"),
        F.count(b).alias("n_b"),
        round_portable(F.avg(a), 6).alias("mean_a"),
        round_portable(F.avg(b), 6).alias("mean_b"),
        round_portable(F.var_samp(a), 6).alias("var_a"),
        round_portable(F.var_samp(b), 6).alias("var_b"),
    )
    se2_a = F.col("var_a") / F.col("n_a")
    se2_b = F.col("var_b") / F.col("n_b")
    pooled = se2_a + se2_b
    return s.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        round_portable(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(pooled), 4
        ).alias("t_stat"),
        round_portable(
            pooled * pooled
            / (
                se2_a * se2_a / (F.col("n_a") - 1)
                + se2_b * se2_b / (F.col("n_b") - 1)
            ),
            2,
        ).alias("df_welch"),
    )


def _hilbert_oracle() -> str:
    from ..operators.layout import hilbert_oracle_sql

    return hilbert_oracle_sql(
        "orders", "o_orderkey", "o_orderkey % 1024", "o_custkey % 1024", order=10
    )


@query("layout_hilbert_orders", oracle=_hilbert_oracle())
def layout_hilbert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (orderkey, custkey) —
    operators/layout.py:with_hilbert_key, one chained integer
    projection per bit level (no UDF, no shuffle); the locality-
    preserving alternative to the Morton key whose per-file boxes a
    range-partitioned write keeps tighter. Oracle = the same recurrence
    as chained CTEs (DuckDB's struct-fold lambda miscomputes, so both
    engines unroll)."""
    from ..operators.layout import with_hilbert_key

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    keyed = with_hilbert_key(
        orders,
        F.col("o_orderkey") % 1024,
        F.col("o_custkey") % 1024,
        order=10,
    )
    return keyed.select("o_orderkey", "hilbert_key")


@query(
    "dq_psi_value_drift",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN value < 0 THEN 0
                  WHEN value >= 500.0 THEN 11
                  ELSE CAST(floor(value / 50.0) AS BIGINT) + 1
             END AS bin,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_ref,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_cmp
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY 1),
    t AS (SELECT SUM(n_ref) AS tr, SUM(n_cmp) AS tc,
                 CAST(COUNT(*) AS BIGINT) AS nb FROM b),
    terms AS (
      SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cmp AS BIGINT) AS n_cmp,
             ((n_ref + 0.5) / (tr + 0.5 * nb) - (n_cmp + 0.5) / (tc + 0.5 * nb))
             * ln(((n_ref + 0.5) / (tr + 0.5 * nb))
                  / ((n_cmp + 0.5) / (tc + 0.5 * nb))) AS term
      FROM b, t),
    tot AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(term ORDER BY bin)),
                         (a, x) -> a + x) AS psi
      FROM terms)
    SELECT bin, n_ref, n_cmp,
           floor(term * 1e6 + 0.5) / 1e6 AS psi_term,
           floor(psi * 1e6 + 0.5) / 1e6 AS psi_total
    FROM terms, tot
    """,
)
def dq_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the view and purchase value
    distributions — the drift monitor a feature pipeline runs between
    training and serving windows. One aggregate builds both histograms
    (conditional counts per width_bucket bin), smoothed shares avoid
    log-of-zero, and the TOTAL is folded over the bin-sorted term list
    so both engines add in the same order. Scale: one shuffle on the
    bin key (12 rows), everything else scalar."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "value")
    )
    b = ev.groupBy(
        F.width_bucket("value", F.lit(0), F.lit(500), F.lit(10)).alias("bin")
    ).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_ref"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_cmp"),
    )
    t = b.agg(
        F.sum("n_ref").alias("tr"),
        F.sum("n_cmp").alias("tc"),
        F.count("*").alias("nb"),
    )
    p = (F.col("n_ref") + 0.5) / (F.col("tr") + 0.5 * F.col("nb"))
    q = (F.col("n_cmp") + 0.5) / (F.col("tc") + 0.5 * F.col("nb"))
    terms = b.join(F.broadcast(t), F.lit(True)).select(
        "bin", "n_ref", "n_cmp", ((p - q) * F.log(p / q)).alias("term")
    )
    tot = terms.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("bin", "term"))),
                lambda s: s.term,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("psi")
    )
    return terms.join(F.broadcast(tot), F.lit(True)).select(
        "bin",
        "n_ref",
        "n_cmp",
        round_portable(F.col("term"), 6).alias("psi_term"),
        round_portable(F.col("psi"), 6).alias("psi_total"),
    )


@query(
    "feature_target_encode_loo",
    oracle="""
    WITH j AS (
      SELECT o_orderkey, c_mktsegment, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey),
    seg AS (
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             floor(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS s
      FROM j GROUP BY 1)
    SELECT o_orderkey, j.c_mktsegment,
           floor((s - o_totalprice) / (n - 1) * 1e6 + 0.5) / 1e6
             AS target_enc
    FROM j JOIN seg USING (c_mktsegment)
    """,
)
def feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment
    against order value — the categorical-feature trick that avoids
    self-leakage: each row's encoding is the segment mean EXCLUDING
    its own target, (seg_sum - own) / (seg_n - 1). The per-segment
    aggregate is tiny and broadcasts back; the segment sum is rounded
    BEFORE the subtraction so both engines divide identical doubles.
    One shuffle for the aggregate, zero for the encode."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_mktsegment", "o_totalprice"
    )
    seg = j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        round_portable(F.sum("o_totalprice"), 2).alias("s"),
    )
    return j.join(F.broadcast(seg), "c_mktsegment").select(
        "o_orderkey",
        "c_mktsegment",
        round_portable(
            (F.col("s") - F.col("o_totalprice")) / (F.col("n") - 1), 6
        ).alias("target_enc"),
    )


@query(
    "dq_ks_two_sample",
    oracle="""
    WITH c AS (
      SELECT value,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS ca,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS cb
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY value),
    t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c),
    r AS (
      SELECT value,
             SUM(ca) OVER (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_a,
             SUM(cb) OVER (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_b
      FROM c),
    d AS (
      SELECT value,
             ABS(cum_a / CAST(na AS DOUBLE) - cum_b / CAST(nb AS DOUBLE))
               AS diff
      FROM r, t)
    SELECT (SELECT na FROM t) AS n_a,
           (SELECT nb FROM t) AS n_b,
           MAX(diff) AS ks_stat,
           MIN(CASE WHEN diff = (SELECT MAX(diff) FROM d) THEN value END)
             AS at_value
    FROM d
    """,
)
def dq_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample statistic between the view and
    purchase value distributions — the nonparametric drift test that
    needs the FULL empirical CDFs, i.e. a global cumulative sum. The
    oracle's single-partition window is exactly what a 100 TB engine
    cannot run; here both CDFs come from the distributed prefix-sum
    operator (range exchange + per-partition window + broadcast
    offsets — operators/prefix.py), so no stage ever sees more than its
    range slice. Integer cumulative counts divide by integer totals, so
    every double is EXACT and the max/argmax diff cross-engine with no
    rounding at all."""
    from ..operators.prefix import global_running_sum

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "value")
    )
    # cut once: c feeds the prefix-sum chain AND the totals agg (the
    # r12-s2 rule — checkpoint BEFORE prefix.py, at the caller); r is
    # consumed by the diff projection whose result feeds both the max
    # probe and the argmax filter (r13 opt — uncut, the double
    # prefix-sum chain executed twice)
    c = cut_once(ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("ca"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("cb"),
    ))
    r = global_running_sum(c, ["value"], "ca", "cum_a", num_partitions=32)
    r = global_running_sum(r, ["value"], "cb", "cum_b", num_partitions=32)
    r = cut_once(r)
    t = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    d = r.join(F.broadcast(t), F.lit(True)).select(
        "value",
        "na",
        "nb",
        F.abs(
            F.col("cum_a") / F.col("na").cast("double")
            - F.col("cum_b") / F.col("nb").cast("double")
        ).alias("diff"),
    )
    ks = d.agg(F.max("diff").alias("ks_stat"))
    return (
        d.join(F.broadcast(ks), F.lit(True))
        .filter(F.col("diff") == F.col("ks_stat"))
        .agg(
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
            F.first("ks_stat").alias("ks_stat"),
            F.min("value").alias("at_value"),
        )
    )


@query(
    "dq_benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
    t AS (SELECT SUM(n_obs) AS total FROM c)
    SELECT digit, n_obs,
           floor(n_obs / CAST(total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS obs_share,
           floor(log10(1.0 + 1.0 / digit) * 1e6 + 0.5) / 1e6 AS benford_share
    FROM c, t
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the fraud /
    synthetic-data smell test. The leading digit is extracted through
    INTEGER+STRING ops (never floor(log10) — a 1-ulp libm difference
    at a power of ten would flip the digit cross-engine); expected
    shares are log10(1 + 1/d) on constants. One tiny aggregate."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n_obs"))
    t = c.agg(F.sum("n_obs").alias("total"))
    return c.join(F.broadcast(t), F.lit(True)).select(
        "digit",
        "n_obs",
        round_portable(F.col("n_obs") / F.col("total").cast("double"), 6).alias(
            "obs_share"
        ),
        round_portable(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6
        ).alias("benford_share"),
    )


@query(
    "events_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             floor(SUM(value) * 1e2 + 0.5) / 1e2 AS v
      FROM events WHERE user_id < 100 GROUP BY 1, 2),
    m AS (
      SELECT user_id, floor(AVG(v) * 1e2 + 0.5) / 1e2 AS mu
      FROM daily GROUP BY 1),
    s AS (
      SELECT d.user_id, day,
             SUM(v - mu) OVER (PARTITION BY d.user_id ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS ps
      FROM daily d JOIN m USING (user_id)),
    c AS (
      SELECT user_id, day,
             ps - LEAST(MIN(ps) OVER (PARTITION BY user_id ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW), 0) AS cusum
      FROM s)
    SELECT user_id,
           floor(MAX(cusum) * 1e4 + 0.5) / 1e4 AS max_cusum,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM c GROUP BY user_id
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift score over the daily value series — the
    changepoint-detection primitive. The clamped recurrence
    ``C_t = max(0, C_{t-1} + dev_t)`` looks sequential, but the
    prefix-sum identity ``C_t = S_t - min(0, min_{j<=t} S_j)`` turns it
    into two WINDOWS (running sum + running min) — one shuffle on the
    user key, no fold, no state. The user mean is rounded before
    differencing so both engines window identical doubles."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        round_portable(F.sum("value"), 2).alias("v")
    )
    m = daily.groupBy("user_id").agg(round_portable(F.avg("v"), 2).alias("mu"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = daily.join(m, "user_id").withColumn(
        "ps", F.sum(F.col("v") - F.col("mu")).over(w)
    )
    c = s.withColumn(
        "cusum", F.col("ps") - F.least(F.min("ps").over(w), F.lit(0.0))
    )
    return c.groupBy("user_id").agg(
        round_portable(F.max("cusum"), 4).alias("max_cusum"),
        F.count("*").alias("n_days"),
    )


@query(
    "tpch_rf_refresh_cycle",
    oracle="""
    WITH after AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 10 <> 3
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', o_totalprice FROM orders
      WHERE o_orderkey % 10 = 0)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           floor(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS total_price
    FROM after GROUP BY o_orderstatus
    """,
)
def tpch_rf_refresh_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H refresh functions the 22 queries leave out: RF1 (new
    orders inserted) and RF2 (old orders deleted) run as managed-table
    DML — merge_upsert for the insert batch, delete_where for the
    purge — followed by the reporting aggregate over the refreshed
    table. The oracle states the final set algebraically; matching it
    proves the DML cycle is exactly-once and loss-free. Both refresh
    sets derive from keys, so the cycle is deterministic."""
    import tempfile

    from ..sources import managed_table as mt

    # cut once (r13 opt): orders feeds the initial load, the RF1 batch
    # and the merge-source re-evaluations — uncut it scanned 7x
    orders = cut_once(load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ))
    path = tempfile.mkdtemp(prefix="tpch_rf_") + "/orders"
    mt.initial_write(orders, path, keys=("o_orderkey",))
    # RF1: a new-sales batch (keys offset past the live range)
    rf1 = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    mt.merge_upsert(spark, path, rf1, keys=("o_orderkey",))
    # RF2: purge an old-order slice
    mt.delete_where(spark, path, "o_orderkey % 10 = 3 AND o_orderkey < 10000000")
    return (
        mt.read(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            round_portable(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    t AS (SELECT prev_type, SUM(n_trans) AS row_total FROM c GROUP BY 1)
    SELECT c.prev_type, event_type, n_trans,
           floor(n_trans / CAST(row_total AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS p_trans
    FROM c JOIN t USING (prev_type)
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (the behavioral-model / next-event-prediction baseline):
    one LAG window on the user key, one pair aggregate, row-normalized
    by integer ratio (exact doubles). The transition matrix is
    vocabulary-sized — shuffle-light at any event count."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_trans")
    )
    t = c.groupBy("prev_type").agg(F.sum("n_trans").alias("row_total"))
    return c.join(F.broadcast(t), "prev_type").select(
        "prev_type",
        "event_type",
        "n_trans",
        round_portable(
            F.col("n_trans") / F.col("row_total").cast("double"), 6
        ).alias("p_trans"),
    )


@query(
    "survival_kaplan_meier",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS conv_day,
             MIN(CAST(ts AS DATE)) AS first_day,
             MAX(CAST(ts AS DATE)) AS last_day
      FROM events GROUP BY user_id),
    dur AS (
      SELECT user_id,
             CASE WHEN conv_day IS NOT NULL
                  THEN date_diff('day', first_day, conv_day)
                  ELSE date_diff('day', first_day, last_day) END AS t,
             CASE WHEN conv_day IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dur),
    grp AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM dur GROUP BY t),
    risk AS (
      SELECT t, d,
             n - COALESCE(SUM(c) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n_risk
      FROM grp, total),
    surv AS (
      SELECT t, d, n_risk,
             CASE WHEN d >= n_risk THEN 0.0
                  ELSE exp(SUM(CASE WHEN d < n_risk
                                    THEN ln(1.0 - d / CAST(n_risk AS DOUBLE))
                                    ELSE 0.0 END)
                           OVER (ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW))
             END AS s
      FROM risk WHERE d > 0)
    SELECT t AS duration_days, d AS n_events, n_risk,
           floor(s * 1e6 + 0.5) / 1e6 AS survival
    FROM surv
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for days-to-first-purchase, with
    non-converting users right-censored at their last activity — the
    time-to-event estimator behind churn/conversion analyses. The
    at-risk count comes from an exclusive prefix sum over duration
    groups (integers, exact); the product over hazard terms is
    exp(cumulative-sum of logs) — a window, not a sequential fold —
    and rounds at 1e-6 to absorb libm/order noise. Grain = distinct
    durations, so every shuffle is tiny regardless of user count."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("conv_day"),
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    dur = per_user.select(
        F.when(
            F.col("conv_day").isNotNull(),
            F.datediff("conv_day", "first_day"),
        )
        .otherwise(F.datediff("last_day", "first_day"))
        .alias("t"),
        F.when(F.col("conv_day").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    total = dur.agg(F.count("*").alias("n"))
    grp = dur.groupBy("t").agg(
        F.sum("ev").alias("d"), F.count("*").alias("c")
    )
    w_excl = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_incl = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grp.join(F.broadcast(total), F.lit(True)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum("c").over(w_excl), F.lit(0))
        ).alias("n_risk"),
    )
    # the final time point can exhaust the risk set (d == n_risk):
    # S drops to exactly 0 there, and the log term is excluded from
    # the cumulative product (ln(0) is undefined — DuckDB throws)
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d") / F.col("n_risk").cast("double")),
    ).otherwise(F.lit(0.0))
    surv = risk.where(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.when(F.col("d") >= F.col("n_risk"), F.lit(0.0))
        .otherwise(F.exp(F.sum(term).over(w_incl)))
        .alias("s"),
    )
    return surv.select(
        F.col("t").alias("duration_days"),
        F.col("d").alias("n_events"),
        "n_risk",
        round_portable(F.col("s"), 6).alias("survival"),
    )


@query(
    "quality_gopher_rules",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             length(replace(text, ' ', '')) AS n_alpha_chars
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(l) AS BIGINT) AS n_words,
             floor(n_alpha_chars / CAST(len(l) AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS mean_word_len,
             CAST(len(list_filter(l, x -> x = 'the' OR x = 'a'
                                       OR x = 'of' OR x = 'to'))
                  AS BIGINT) AS n_stopwords
      FROM w)
    SELECT doc_id, n_words, mean_word_len, n_stopwords,
           n_words BETWEEN 50 AND 100000 AS ok_length,
           mean_word_len BETWEEN 3 AND 10 AS ok_word_len,
           n_stopwords >= 2 AS ok_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3 AND 10)
             AND n_stopwords >= 2 AS passes
    FROM m
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule battery (Rae et al. 2021 §A1 —
    the heuristic gate most LLM corpora run before model-based
    scoring): word-count bounds, mean-word-length window, minimum
    stop-word evidence. Pure projections + one string split per doc;
    no shuffle at all, so it runs at ingest bandwidth."""
    docs = load_table(spark, sf_dir, "documents")
    split_df = docs.select(
        "doc_id",
        F.split("text", " ").alias("__l"),
        F.length(F.regexp_replace("text", " ", "")).alias("__alpha"),
    )
    m = split_df.select(
        "doc_id",
        F.size("__l").cast("long").alias("n_words"),
        round_portable(
            F.col("__alpha") / F.size("__l").cast("double"), 4
        ).alias("mean_word_len"),
        F.size(
            F.filter("__l", lambda x: x.isin("the", "a", "of", "to"))
        )
        .cast("long")
        .alias("n_stopwords"),
    )
    ok_len = F.col("n_words").between(50, 100000)
    ok_wl = F.col("mean_word_len").between(3, 10)
    ok_sw = F.col("n_stopwords") >= 2
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "n_stopwords",
        ok_len.alias("ok_length"),
        ok_wl.alias("ok_word_len"),
        ok_sw.alias("ok_stopwords"),
        (ok_len & ok_wl & ok_sw).alias("passes"),
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
    idx AS (SELECT doc_id, w,
                   unnest(range(1, greatest(len(w) - 1, 1))) AS i
            FROM words),
    sh AS (SELECT DISTINCT doc_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM idx),
    ref AS (SELECT DISTINCT g FROM sh WHERE doc_id % 2 = 0),
    probe AS (SELECT doc_id, g FROM sh WHERE doc_id % 2 = 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN NOT EXISTS
                         (SELECT 1 FROM ref WHERE ref.g = probe.g)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           floor(SUM(CASE WHEN NOT EXISTS
                          (SELECT 1 FROM ref WHERE ref.g = probe.g)
                     THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS novelty
    FROM probe GROUP BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty of each arriving document against the indexed
    reference half — the inverse of contamination: how much of this
    document have we NOT seen before? (Data-value scoring for
    continual pretraining.) Trigram shingles, one left-anti-shaped
    membership join keyed on the gram, per-doc ratio of exact integer
    counts. Shuffle = shingles only, like every dedup op here."""
    from ..operators.dedup import shingle

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle(docs, "doc_id", "text", n=3, distinct=True)
    ref = (
        sh.where(F.col("doc_id") % 2 == 0).select("sh").distinct()
        .withColumn("__seen", F.lit(1))
    )
    probe = sh.where(F.col("doc_id") % 2 == 1)
    joined = probe.join(ref, "sh", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).alias("n_novel"),
        round_portable(
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("novelty"),
    )


@query(
    "forecast_seasonal_naive_mase",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(floor(SUM(value) * 1e2 + 0.5) AS BIGINT) AS vc
      FROM events WHERE user_id < 100 GROUP BY 1, 2),
    base AS (
      SELECT user_id, day, vc,
             lag(vc) OVER (PARTITION BY user_id ORDER BY day) AS prev_vc
      FROM daily),
    fc AS (
      SELECT b.user_id, b.day, b.vc, b.prev_vc, w.vc AS fc_vc
      FROM base b JOIN daily w
        ON w.user_id = b.user_id AND w.day = b.day - INTERVAL 7 DAY),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_forecasts,
             floor(SUM(ABS(vc - fc_vc)) / CAST(COUNT(*) AS DOUBLE)
                   / 100 * 1e4 + 0.5) / 1e4 AS mae_seasonal,
             floor(SUM(ABS(vc - prev_vc)) / CAST(COUNT(*) AS DOUBLE)
                   / 100 * 1e4 + 0.5) / 1e4 AS mae_naive
      FROM fc WHERE prev_vc IS NOT NULL GROUP BY user_id)
    SELECT user_id, n_forecasts, mae_seasonal, mae_naive,
           CASE WHEN mae_naive > 0
                THEN floor(mae_seasonal / mae_naive * 1e4 + 0.5) / 1e4
           END AS mase
    FROM m
    """,
)
def forecast_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast (predict this day = same weekday last
    week) scored with MASE (MAE over the seasonal forecast divided by
    the one-step-naive MAE) — the baseline every forecasting pipeline
    must beat, and the scale-free metric it's judged with. One window
    for the naive lag, one self-join on (user, day-7) for the seasonal
    forecast — both keyed on the user, no global state. MAEs are
    rounded before the ratio so both engines divide identical
    doubles."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    # INTEGER CENTS from here on: the MAE averages would otherwise sum
    # inexact 2-decimal doubles in engine-dependent order, and an
    # average landing on a .00005 boundary flips the rounded output
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.floor(F.sum("value") * 100 + F.lit(0.5)).cast("long").alias("vc")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    base = daily.withColumn("prev_vc", F.lag("vc").over(w))
    fc = base.alias("b").join(
        daily.alias("w"),
        (F.col("b.user_id") == F.col("w.user_id"))
        & (F.col("w.day") == F.date_sub(F.col("b.day"), 7)),
    ).select(
        F.col("b.user_id").alias("user_id"),
        F.col("b.vc").alias("vc"),
        F.col("b.prev_vc").alias("prev_vc"),
        F.col("w.vc").alias("fc_vc"),
    )
    m = fc.where(F.col("prev_vc").isNotNull()).groupBy("user_id").agg(
        F.count("*").alias("n_forecasts"),
        round_portable(
            F.sum(F.abs(F.col("vc") - F.col("fc_vc")))
            / F.count("*").cast("double")
            / 100,
            4,
        ).alias("mae_seasonal"),
        round_portable(
            F.sum(F.abs(F.col("vc") - F.col("prev_vc")))
            / F.count("*").cast("double")
            / 100,
            4,
        ).alias("mae_naive"),
    )
    return m.select(
        "user_id",
        "n_forecasts",
        "mae_seasonal",
        "mae_naive",
        F.when(
            F.col("mae_naive") > 0,
            round_portable(F.col("mae_seasonal") / F.col("mae_naive"), 4),
        ).alias("mase"),
    )


@query(
    "attribution_linear_multi_touch",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts, value
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts FROM events
          WHERE event_type = 'view'),
    touches AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.value,
             v.event_id AS view_id
      FROM p JOIN v
        ON p.user_id = v.user_id
       AND v.ts >= p.ts - INTERVAL 3600 SECOND
       AND v.ts <= p.ts),
    per_purchase AS (
      SELECT purchase_id, user_id,
             CAST(COUNT(*) AS BIGINT) AS n_touches,
             floor(MAX(value) / COUNT(*) * 1e4 + 0.5) / 1e4
               AS credit_per_touch
      FROM touches GROUP BY 1, 2)
    SELECT t.view_id,
           CAST(COUNT(*) AS BIGINT) AS n_credited_purchases,
           floor(list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                                list(pp.credit_per_touch
                                     ORDER BY pp.purchase_id)),
                   (a, x) -> a + x) * 1e4 + 0.5) / 1e4 AS credited_revenue
    FROM touches t JOIN per_purchase pp USING (purchase_id)
    GROUP BY t.view_id
    """,
)
def attribution_linear_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    equally across every view by the same user in the preceding hour,
    and views accumulate credit across purchases — the marketing-
    analytics allocation the as-of (last-touch) join can't express.
    The interval join is the watermarked stream-stream shape run in
    batch; per-view credit folds over the purchase-sorted share list
    so both engines add identical doubles in the same order."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    touches = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 3600 SECONDS"))
        & (F.col("v_ts") <= F.col("p_ts")),
    ).select("purchase_id", "view_id", "value")
    w = Window.partitionBy("purchase_id")
    credited = touches.withColumn(
        "credit_per_touch",
        round_portable(F.col("value") / F.count("*").over(w), 4),
    )
    folded = credited.groupBy("view_id").agg(
        F.count("*").alias("n_credited_purchases"),
        F.sort_array(
            F.collect_list(F.struct("purchase_id", "credit_per_touch"))
        ).alias("__shares"),
    )
    return folded.select(
        "view_id",
        "n_credited_purchases",
        round_portable(
            F.aggregate(
                F.transform("__shares", lambda s: s.credit_per_touch),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            4,
        ).alias("credited_revenue"),
    )


@query(
    "catalog_txn_snapshot_read",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderstatus
    """,
)
def catalog_txn_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-table transaction surface end to end inside one
    query: orders and customer commit as ONE catalog transaction
    (sources/txn_catalog.py), a snapshot-pinned session reads both
    back, and the cross-table join aggregate must equal the direct
    read the oracle performs — proving the catalog path loses and
    reorders nothing. A second, partial commit of an unrelated table
    between snapshot and read exercises the pinning."""
    import tempfile

    from ..sources import txn_catalog as tc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    root = tempfile.mkdtemp(prefix="txncat_")
    cat = root + "/cat"
    tc.commit_tables(
        {
            "orders": (orders, root + "/orders", ("o_orderkey",)),
            "customer": (cust, root + "/customer", ("c_custkey",)),
        },
        cat,
    )
    snap = tc.snapshot(cat)
    # an unrelated commit after the snapshot must not affect the session
    tc.commit_tables(
        {"other": (cust.limit(1), root + "/other", ("c_custkey",))}, cat
    )
    o = tc.read_table(spark, cat, "orders", snap)
    c = tc.read_table(spark, cat, "customer", snap)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@query(
    "dq_table_checksum",
    oracle="""
    SELECT o_orderkey % 16 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(CAST('0x' || substr(
                 md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus
                     || '|' || o_orderpriority), 1, 12) AS BIGINT)) AS checksum
    FROM orders GROUP BY 1
    """,
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed content checksums — how two copies of a 100 TB table
    (primary vs replica, pre- vs post-migration) are compared WITHOUT
    shipping rows: each side computes 16 order-insensitive per-bucket
    sums of a row hash (md5 prefix as integer — portable across
    engines, unlike xxhash64), and only the 16-row summaries travel. A
    mismatched bucket pins the diff to 1/16th of the key space for
    drill-down. Hash inputs are key/string columns only (float-to-
    string rendering differs across engines)."""
    o = load_table(spark, sf_dir, "orders")
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    "o_orderstatus",
                    "o_orderpriority",
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return o.groupBy((F.col("o_orderkey") % 16).alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.sum(row_hash).alias("checksum"),
    )
