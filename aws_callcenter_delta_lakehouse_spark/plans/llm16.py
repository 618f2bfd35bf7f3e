"""Round-4 batch 4: regression/ACF analytics with EXACT cross-engine
arithmetic.

Both queries here deliberately avoid the usual ``round_portable``
tolerance dance: every aggregate is a sum of integer-valued terms
(exact in BIGINT/DECIMAL on both engines), and the final doubles are
derived from those integers through an IDENTICAL expression tree of
correctly-rounded IEEE ops (*, -, /, sqrt) — so Spark and DuckDB
produce bit-identical results with no rounding window at all.
This is the integer-moments discipline from CLAUDE.md trap #13
applied to second-order statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.materialize import cut_once
from .registry import query


@query(
    "regression_ols_battery",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
             CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS y
      FROM lineitem),
    m AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM pts GROUP BY flag)
    SELECT flag, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope_cents,
           (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE) AS intercept_cents,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_xy,
           ((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)))
           * ((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy))) AS r2
    FROM m
    """,
)
def regression_ols_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag OLS of extended price (integer cents) on
    quantity: slope, intercept, Pearson correlation, R² — the
    feature-screening regression a curation pipeline runs over numeric
    column pairs.

    Built from raw integer moments (n, Σx, Σy, Σxy, Σx², Σy²) rather
    than ``regr_slope``/``corr`` so the aggregation is EXACT: every
    term is integer-valued, sums stay < 2^63 through sf≈1 (and the
    same query widens to ``DECIMAL(38,0)`` sums beyond that), so
    shuffle/merge order cannot perturb a single bit — unlike the
    built-in Welford-merge aggregates whose partial-merge order leaves
    ulp noise. The derived statistics are then a fixed tree of
    correctly-rounded double ops, identical in any engine.
    ``tests/test_regression.py`` pins this against Spark's native
    ``regr_slope``/``regr_intercept``/``regr_r2``/``corr`` within
    1e-9 relative tolerance, so the built-ins stay exercised too.

    Scale: one map-side-combined aggregate over lineitem, 3 groups —
    the same shape as tpch_q1. No extra shuffle for the derived stats.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice").cast("double") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    m = pts.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")  # n²·cov
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")  # n²·var(x)
    vary_n = nd * F.col("syy") - F.col("sy") * F.col("sy")  # n²·var(y)
    slope = cov_n / varx_n
    corr = cov_n / F.sqrt(varx_n * vary_n)
    return m.select(
        "flag",
        "n",
        slope.alias("slope_cents"),
        ((F.col("sy") - slope * F.col("sx")) / nd).alias("intercept_cents"),
        corr.alias("corr_xy"),
        (corr * corr).alias("r2"),
    )


@query(
    "events_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s FROM daily),
    dev AS (
      SELECT d.day, tot.n, (tot.n * d.x - tot.s) AS dv
      FROM daily d CROSS JOIN tot),
    led AS (
      SELECT n, dv,
             lead(dv, 1) OVER (ORDER BY day) AS l1,
             lead(dv, 2) OVER (ORDER BY day) AS l2,
             lead(dv, 3) OVER (ORDER BY day) AS l3
      FROM dev),
    den AS (SELECT CAST(SUM(dv * dv) AS BIGINT) AS d FROM led),
    num AS (
      SELECT 1 AS lag, CAST(SUM(dv * l1) AS BIGINT) AS num FROM led
      UNION ALL
      SELECT 2 AS lag, CAST(SUM(dv * l2) AS BIGINT) AS num FROM led
      UNION ALL
      SELECT 3 AS lag, CAST(SUM(dv * l3) AS BIGINT) AS num FROM led)
    SELECT CAST(num.lag AS INT) AS lag, num.num AS acf_num,
           den.d AS acf_den,
           CAST(num.num AS DOUBLE) / CAST(den.d AS DOUBLE) AS acf
    FROM num CROSS JOIN den
    ORDER BY lag
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1–3 —
    the seasonality probe a monitoring pipeline runs on ingest volume.

    Exact integer arithmetic throughout: with n days and total S,
    n²·(x_t − x̄)(x_{t+k} − x̄) = (n·x_t − S)(n·x_{t+k} − S) is a
    BIGINT, so numerator and denominator are order-independent integer
    sums and the final ratio is one correctly-rounded double division —
    bit-identical across engines, no tolerance. Both the scaled
    numerator/denominator and the ratio are emitted so the oracle
    checks the exact integers, not just the quotient.

    Scale: the raw scan reduces to one row per DAY via a map-side
    combined count; everything after runs on that tiny series (the lag
    window is a single partition of #days rows by design — the series
    length is the calendar span, independent of event volume).
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    dev = daily.join(F.broadcast(tot)).select(
        "day", "n", (F.col("n") * F.col("x") - F.col("s")).alias("dv")
    )
    from pyspark.sql import Window

    w = Window.orderBy("day")
    led = dev.select(
        "dv",
        F.lead("dv", 1).over(w).alias("l1"),
        F.lead("dv", 2).over(w).alias("l2"),
        F.lead("dv", 3).over(w).alias("l3"),
    )
    led = cut_once(led, eager=True)
    den = led.agg(F.sum(F.col("dv") * F.col("dv")).alias("d"))
    num = led.select(
        F.expr(
            "stack(3, 1, dv * l1, 2, dv * l2, 3, dv * l3) AS (lag, term)"
        )
    ).groupBy("lag").agg(F.sum("term").alias("acf_num"))
    return (
        num.join(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "acf_num",
            F.col("d").alias("acf_den"),
            (F.col("acf_num").cast("double") / F.col("d").cast("double")).alias(
                "acf"
            ),
        )
        .orderBy("lag")
    )
