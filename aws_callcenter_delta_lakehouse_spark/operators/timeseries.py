"""Time-series operators: gap filling with forward fill, and rolling
time-interval windows.

Engine extension surface (BASELINE.json north star; the reference's
time handling is batch GROUP BY event_date, 02_gold_analytics.py). The
two shapes every metrics/feature pipeline needs:

- gap_fill_forward: densify a per-key daily series (one spine row per
  key per day between that key's own first and last observation — the
  spine is generated per key from its bounds, never a global calendar
  cross join) and carry the last observed value forward.
- rolling over event time: RANGE frame on the epoch-second, so the
  window is "trailing N seconds", not "trailing N rows".

Scale: the spine explode emits (key, day) rows bounded by Σ per-key
span; the fill is one window shuffle on the key — identical partition
profile to the aggregate that produced the daily series, so at 100 TB
the two stages co-partition and AQE coalesces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import cut_once


def gap_fill_forward(
    daily: DataFrame, key_col: str, date_col: str, value_col: str
) -> DataFrame:
    """Densify ``daily`` (one row per key per observed date) to every
    date in each key's [min, max] span; missing dates get the last
    observed value (``last(ignorenulls)`` over an unbounded-preceding
    row frame) and ``is_gap = true``."""
    bounds = daily.groupBy(key_col).agg(
        F.min(date_col).alias("__d0"), F.max(date_col).alias("__d1")
    )
    spine = bounds.select(
        key_col,
        F.explode(
            F.sequence("__d0", "__d1", F.expr("interval 1 day"))
        ).alias(date_col),
    )
    joined = spine.join(daily, on=[key_col, date_col], how="left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        date_col,
        F.last(value_col, ignorenulls=True).over(w).alias("filled_value"),
        F.col(value_col).isNull().alias("is_gap"),
    )


def rolling_time_window(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    trailing_seconds: int,
) -> DataFrame:
    """Trailing event-time aggregate: per row, count/sum of the key's
    rows within the last ``trailing_seconds`` (inclusive both ends,
    RANGE semantics — equal timestamps are peers). One window shuffle
    on the key. The frame is anchored on INTEGER microseconds
    (``unix_micros``) — timestamps carry sub-second precision, and a
    float-seconds epoch would put boundary rows on different sides
    across engines."""
    secs = F.unix_micros(F.col(ts_col)).alias("__usec")
    w = (
        Window.partitionBy(key_col)
        .orderBy("__usec")
        .rangeBetween(-trailing_seconds * 1_000_000, 0)
    )
    return df.select(key_col, ts_col, F.col(value_col), secs).select(
        key_col,
        ts_col,
        F.count("*").over(w).alias("n_trailing"),
        F.sum(value_col).over(w).alias("sum_trailing"),
    )


def holt_linear(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.25,
    beta: float = 0.125,
    horizons: tuple[int, ...] = (1, 7),
    n_steps: int | None = None,
) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) per
    group — the classic local-trend forecaster (Holt 1957):

        l_t = alpha * x_t + (1 - alpha) * (l_{t-1} + b_{t-1})
        b_t = beta * (l_t - l_{t-1}) + (1 - beta) * b_{t-1}

    initialized textbook-style (l_1 = x_1, b_1 = x_2 - x_1), forecast
    ŷ_{T+h} = l_T + h·b_T per horizon. The fold starts at t = 3: under
    this initialization the textbook t = 2 update is an algebraic
    identity (l_2 = x_2, b_2 = b_1), and skipping it keeps the
    floating-point op sequence identical to the unrolled oracle.

    ``df`` holds one observation per (group, order) — the caller
    gap-fills first if the series has holes. When ``n_steps`` is set,
    only groups with AT LEAST that many observations participate and
    each uses its LAST ``n_steps`` points — this makes the step count
    a constant of the plan, which is what lets an oracle unroll the
    recurrence exactly (see ``forecast_holt_linear``).

    Scale: one shuffle to assemble each group's ordered series
    (collect_list + array_sort — series length is bounded by the
    window the caller feeds, never raw-row cardinality), then the fold
    runs as a single JVM-side ``aggregate`` HOF over the array; the
    accumulator is a 2-field struct, fine in Spark (the DuckDB
    list_reduce struct-accumulator bug is an oracle-side concern only).
    Output: group, level, trend, f_<h> per horizon."""
    pairs = df.select(
        F.col(group_col).alias("__g"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("double").alias("__x"),
    )
    if n_steps is not None:
        w = Window.partitionBy("__g").orderBy(F.col("__o").desc())
        pairs = (
            pairs.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n_steps)
            .drop("__rk")
        )
    series = (
        pairs.groupBy("__g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__o", "__x"))),
                lambda s: s["__x"],
            ).alias("xs")
        )
    )
    if n_steps is not None:
        series = series.filter(F.size("xs") == n_steps)
    else:
        series = series.filter(F.size("xs") >= 2)
    # materialize xs before the HOF (perf trap 1: never hand a
    # non-trivial expression to a lambda-bearing operator)
    folded = series.select(
        "__g",
        F.aggregate(
            F.slice("xs", 3, F.size("xs") - 2),
            # the state AFTER the textbook t = 2 update: l_2 = x_2
            # exactly (alpha*x_2 + (1-alpha)*(x_1 + (x_2 - x_1)) is an
            # identity only in exact arithmetic — seeding x_2 directly
            # keeps it exact in floats too), b_2 = b_1 = x_2 - x_1
            F.struct(
                F.element_at("xs", 2).alias("l"),
                (F.element_at("xs", 2) - F.element_at("xs", 1)).alias("b"),
            ),
            lambda acc, x: F.struct(
                (alpha * x + (1.0 - alpha) * (acc["l"] + acc["b"])).alias(
                    "l"
                ),
                (
                    beta
                    * (
                        (alpha * x + (1.0 - alpha) * (acc["l"] + acc["b"]))
                        - acc["l"]
                    )
                    + (1.0 - beta) * acc["b"]
                ).alias("b"),
            ),
        ).alias("st"),
    )
    out = folded.select(
        F.col("__g").alias(group_col),
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        *[
            (F.col("st.l") + float(h) * F.col("st.b")).alias(f"f_{h}")
            for h in horizons
        ],
    )
    return out


def _median_by_selection(
    df: DataFrame, group: str, value: str, out_name: str
) -> DataFrame:
    """Exact per-group median via k-th selection: sort, pick positions
    (n+1)//2 and n//2 + 1, average as sum/count — for odd n both
    positions coincide so the division is by 1 and the median is an
    ELEMENT (no float averaging); for even n it is (a + b) / 2 with the
    same op order any mirroring SQL writes. Value ties are harmless:
    row_number among equal values is arbitrary, but only the VALUES at
    the selected ranks are read and the k-th smallest of a multiset is
    unique."""
    w = Window.partitionBy(group).orderBy(F.col(value))
    ranked = df.select(
        group,
        F.col(value).alias("__v"),
        F.row_number().over(w).alias("__rk"),
        F.count("*").over(Window.partitionBy(group)).alias("__n"),
    )
    k1 = (F.col("__n") + 1) / 2
    k2 = F.col("__n") / 2 + 1
    hit = (F.col("__rk") == F.floor(k1)) | (F.col("__rk") == F.floor(k2))
    return ranked.groupBy(group).agg(
        (
            F.sum(F.when(hit, F.col("__v")))
            / F.sum(F.when(hit, F.lit(1)))
        ).alias(out_name),
        F.first("__n").alias(f"__n_{out_name}"),
    )


def theil_sen(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen robust trend per group (Theil 1950, Sen 1968): slope =
    median of all pairwise slopes (y_j - y_i) / (x_j - x_i) over x_i <
    x_j, intercept = median of y_i - slope * x_i. Breakdown point
    ~29% — the robust alternative to OLS when the daily series has
    outlier days.

    Scale shape: the pair build is a WITHIN-GROUP self-join (equi-join
    on the group key + x inequality filter — a hash join, never a
    cartesian), so pair count is C(points-per-group, 2), bounded by the
    caller's window (days, not raw rows), while the group count
    parallelizes. Medians are exact k-th selection
    (``_median_by_selection``) — reduce-order-independent, so a SQL
    oracle can replay them verbatim. Returns group, n_points, slope,
    intercept."""
    # cut once (r13 opt): pts feeds both pair-join sides, the residual
    # join AND the count agg — uncut, the caller's pipeline ran 4x
    pts = cut_once(df.select(
        F.col(group_col).alias("__g"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ))
    a = pts.select("__g", F.col("__x").alias("x1"), F.col("__y").alias("y1"))
    b = pts.select("__g", F.col("__x").alias("x2"), F.col("__y").alias("y2"))
    slopes = (
        a.join(b, on="__g")
        .filter(F.col("x2") > F.col("x1"))
        .select(
            "__g",
            (
                (F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1"))
            ).alias("__s"),
        )
    )
    slope = _median_by_selection(slopes, "__g", "__s", "slope").select(
        "__g", "slope"
    )
    resid = pts.join(slope, on="__g").select(
        "__g",
        "slope",
        (F.col("__y") - F.col("slope") * F.col("__x")).alias("__r"),
    )
    inter = _median_by_selection(resid, "__g", "__r", "intercept")
    n_pts = pts.groupBy("__g").agg(
        F.count("*").cast("bigint").alias("n_points")
    )
    # LEFT join: a group whose x values are ALL equal produces zero
    # pairwise slopes (the x2 > x1 filter drops every pair) — it must
    # surface with NULL slope/intercept, not silently vanish
    return (
        n_pts.join(slope, on="__g", how="left")
        .join(inter.select("__g", "intercept"), on="__g", how="left")
        .select(
            F.col("__g").alias(group_col), "n_points", "slope", "intercept"
        )
    )


def single_changepoint(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Single change-point per group by between-segment variance
    maximization — the one-split step of binary segmentation (Scott &
    Knott 1974): for every split k of the ordered series, score
    ``k * (n - k) / n * (m_left - m_right)^2`` (the SSE reduction of a
    two-mean fit) and pick the argmax (ties broken by the earlier
    split). All from one windowed prefix-sum pass — no per-split
    rescan, no iteration: cum/total sums give both means per row, so
    the whole detector is two windows over one shuffle on the group.
    Returns group, n, split_at (the order value of the LAST point of
    the left segment), mean_left, mean_right, score."""
    w_ord = Window.partitionBy("__g").orderBy("__o")
    w_all = Window.partitionBy("__g")
    pts = df.select(
        F.col(group_col).alias("__g"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("double").alias("__y"),
    )
    pre = pts.select(
        "__g",
        "__o",
        F.sum("__y").over(w_ord).alias("__cum"),
        F.row_number().over(w_ord).alias("__k"),
        F.sum("__y").over(w_all).alias("__tot"),
        F.count("*").over(w_all).alias("__n"),
    )
    k, n = F.col("__k").cast("double"), F.col("__n").cast("double")
    m1 = F.col("__cum") / k
    m2 = (F.col("__tot") - F.col("__cum")) / (n - k)
    scored = pre.filter(F.col("__k") < F.col("__n")).select(
        "__g",
        "__o",
        "__n",
        m1.alias("__m1"),
        m2.alias("__m2"),
        (k * (n - k) / n * (m1 - m2) * (m1 - m2)).alias("__score"),
    )
    w_best = Window.partitionBy("__g").orderBy(
        F.desc("__score"), F.asc("__o")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__g").alias(group_col),
            F.col("__n").cast("bigint").alias("n"),
            F.col("__o").alias("split_at"),
            F.col("__m1").alias("mean_left"),
            F.col("__m2").alias("mean_right"),
            F.col("__score").alias("score"),
        )
    )


def holt_winters_additive(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = 0.25,
    beta: float = 0.125,
    gamma: float = 0.25,
    n_steps: int = 28,
    horizons: tuple[int, ...] = (1, 7),
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing — Winters
    1960): level + linear trend + a ``period``-slot seasonal state,

        l_t = alpha * (x_t - s_{t-m}) + (1 - alpha) * (l_{t-1} + b_{t-1})
        b_t = beta * (l_t - l_{t-1}) + (1 - beta) * b_{t-1}
        s_t = gamma * (x_t - l_t) + (1 - gamma) * s_{t-m}

    with the standard simple initialization over the first two seasons
    (l = mean of season 1, b = (mean season 2 - mean season 1) / m,
    s_i = x_i - l), recurrence from t = m + 1, forecast
    ŷ_{T+h} = l + h·b + s_{slot(T+h)}. ``n_steps`` must be a multiple
    of ``period`` >= 2 periods; only groups with >= n_steps points
    participate (their LAST n_steps points), making the unroll length a
    plan constant for the oracle.

    Same execution shape as ``holt_linear``: one shuffle to the
    per-group ordered array, then a single JVM-side fold whose
    accumulator is (l, b, s[period]); the per-step seasonal update
    rewrites ONE slot via an index-aware transform. Init sums fold
    left-to-right, matching the literal chains a SQL oracle writes."""
    if n_steps < 2 * period or n_steps % period:
        raise ValueError(
            f"n_steps must be a multiple of period covering >= 2 seasons "
            f"(period={period}, n_steps={n_steps})"
        )
    pairs = df.select(
        F.col(group_col).alias("__g"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("double").alias("__x"),
    )
    w = Window.partitionBy("__g").orderBy(F.col("__o").desc())
    pairs = (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_steps)
        .drop("__rk")
    )
    series = (
        pairs.groupBy("__g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__o", "__x"))),
                lambda s: s["__x"],
            ).alias("xs")
        )
        .filter(F.size("xs") == n_steps)
    )
    m = period

    def el(i: int):
        return F.element_at("xs", i)

    sum1 = el(1)
    for i in range(2, m + 1):
        sum1 = sum1 + el(i)
    sum2 = el(m + 1)
    for i in range(m + 2, 2 * m + 1):
        sum2 = sum2 + el(i)
    l0 = sum1 / float(m)
    b0 = (sum2 / float(m) - sum1 / float(m)) / float(m)
    s0 = F.array(*[el(i) - l0 for i in range(1, m + 1)])

    def step(acc, i):
        x = F.element_at("xs", i.cast("int"))
        slot = (i - 1) % m  # 0-based seasonal slot of step i
        s_old = F.element_at(acc["s"], (slot + 1).cast("int"))
        lnew = alpha * (x - s_old) + (1.0 - alpha) * (
            acc["l"] + acc["b"]
        )
        bnew = beta * (
            (alpha * (x - s_old) + (1.0 - alpha) * (acc["l"] + acc["b"]))
            - acc["l"]
        ) + (1.0 - beta) * acc["b"]
        snew = gamma * (
            x
            - (alpha * (x - s_old) + (1.0 - alpha) * (acc["l"] + acc["b"]))
        ) + (1.0 - gamma) * s_old
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.transform(
                acc["s"],
                lambda v, j: F.when(j == slot, snew).otherwise(v),
            ).alias("s"),
        )

    folded = series.select(
        "__g",
        "xs",
        F.aggregate(
            F.sequence(F.lit(m + 1), F.lit(n_steps)),
            F.struct(l0.alias("l"), b0.alias("b"), s0.alias("s")),
            step,
        ).alias("st"),
    )
    fc = []
    for h in horizons:
        if h > m:
            raise ValueError(f"horizon {h} exceeds period {m}")
        slot = (n_steps + h - 1) % m + 1  # 1-based seasonal slot
        fc.append(
            (
                F.col("st.l")
                + float(h) * F.col("st.b")
                + F.element_at("st.s", slot)
            ).alias(f"f_{h}")
        )
    return folded.select(
        F.col("__g").alias(group_col),
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        *fc,
    )


def mann_kendall(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall trend test per group (Mann 1945, Kendall 1975) —
    the standard significance companion to the Theil-Sen slope: S =
    sum over ordered pairs of sign(x_j - x_i), variance with the tie
    correction  var = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18  over
    tied-value groups, and the continuity-corrected normal score
    z = (S -/+ 1)/sqrt(var) (0 when S = 0). S and both variance terms
    are EXACT integers; the only floats are one division and one sqrt,
    so a SQL oracle reproduces z bit-for-bit.

    Same scale shape as ``theil_sen``: the pair build is a
    within-group equi-join on the group key (hash, never cartesian),
    C(points, 2) pairs per group with points bounded by the caller's
    window; tie counting is one extra hash aggregate. Returns group,
    n, s, var_s, z."""
    pts = df.select(
        F.col(group_col).alias("__g"),
        F.col(order_col).alias("__o"),
        F.col(value_col).alias("__y"),
    )
    a = pts.select("__g", F.col("__o").alias("o1"), F.col("__y").alias("y1"))
    b = pts.select("__g", F.col("__o").alias("o2"), F.col("__y").alias("y2"))
    s = (
        a.join(b, on="__g")
        .filter(F.col("o2") > F.col("o1"))
        .groupBy("__g")
        .agg(
            F.sum(
                F.when(F.col("y2") > F.col("y1"), 1)
                .when(F.col("y2") < F.col("y1"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s")
        )
    )
    nrows = pts.groupBy("__g").agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        pts.groupBy("__g", "__y")
        .agg(F.count("*").alias("__t"))
        .groupBy("__g")
        .agg(
            F.sum(
                F.col("__t")
                * (F.col("__t") - 1)
                * (2 * F.col("__t") + 5)
            ).cast("bigint").alias("__tie_term")
        )
    )
    n = F.col("n")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("__tie_term")
    ).cast("double") / F.lit(18.0)
    z = (
        F.when(F.col("s") > 0,
               (F.col("s").cast("double") - 1.0) / F.sqrt(F.col("var_s")))
        .when(F.col("s") < 0,
              (F.col("s").cast("double") + 1.0) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return (
        nrows.join(s, on="__g")
        .join(ties, on="__g")
        .withColumn("var_s", var_s)
        .select(
            F.col("__g").alias(group_col), "n", "s", "var_s",
            z.alias("z"),
        )
    )


def classical_decompose(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 7,
    phase_col: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method, Persons 1919 — the pre-STL standard): per group,

      trend_t    = centered ``period``-point moving average
      seasonal_p = mean of (y - trend) over each phase p
      remainder  = y - trend - seasonal

    ``period`` must be ODD (the even case needs the 2x2x MA; callers
    with weekly daily data — the common case — pass 7). ``phase_col``
    names an INTEGER phase column in [0, period); when None the phase
    is (row_number - 1) mod period, which assumes a gap-free series.

    Cross-engine exactness (the reason a SQL oracle can replay this
    bit-for-bit): values are quantized to ``scale`` micro-units as
    BIGINT up front, the moving average is an INTEGER window SUM
    (association-free — engines may sum frames in any order), the
    detrended value ``y_q * period - trend_sum`` stays integer, and the
    per-phase mean is an integer SUM/COUNT — every double appears only
    in one fixed final division chain. Rows without a full centered
    window get NULL trend/seasonal/remainder.

    Scale shape: one window pass over the (group, order) shuffle + one
    phase-keyed aggregate + one broadcastable join back — no self-join,
    no iteration; group count parallelizes."""
    if period < 3 or period % 2 == 0:
        raise ValueError(f"period must be odd and >= 3, got {period}")
    half = period // 2
    w = Window.partitionBy("__g").orderBy("__o")
    frame = w.rowsBetween(-half, half)
    pts = df.select(
        F.col(group_col).alias("__g"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("double").alias("__y"),
        *(
            [F.col(phase_col).cast("int").alias("__p")]
            if phase_col
            else []
        ),
    )
    yq = F.floor(F.col("__y") * scale + F.lit(0.5)).cast("long")
    base = pts.select(
        "__g",
        "__o",
        "__y",
        yq.alias("__yq"),
        (
            F.col("__p")
            if phase_col
            else F.pmod(F.row_number().over(w) - 1, F.lit(period)).cast("int")
        ).alias("__p"),
    )
    windowed = base.select(
        "*",
        F.sum("__yq").over(frame).alias("__tsum"),
        F.count("*").over(frame).alias("__tcnt"),
    ).withColumn(
        "__det",
        F.when(
            F.col("__tcnt") == period,
            F.col("__yq") * period - F.col("__tsum"),
        ),
    )
    seasonal = (
        windowed.filter(F.col("__det").isNotNull())
        .groupBy("__g", "__p")
        .agg(
            F.sum("__det").alias("__snum"),
            F.count("*").alias("__sden"),
        )
    )
    denom = float(period) * float(scale)
    trend_d = F.col("__tsum").cast("double") / period / scale
    seas_d = F.col("__snum").cast("double") / F.col("__sden") / period / scale
    det_d = F.col("__det").cast("double") / period / scale
    del denom
    return (
        windowed.join(seasonal, on=["__g", "__p"], how="left")
        .select(
            F.col("__g").alias(group_col),
            F.col("__o").alias(order_col),
            F.col("__y").alias(value_col),
            F.col("__p").alias("phase"),
            F.when(F.col("__tcnt") == period, trend_d).alias("trend"),
            F.when(F.col("__det").isNotNull(), seas_d).alias("seasonal"),
            F.when(F.col("__det").isNotNull(), det_d - seas_d).alias(
                "remainder"
            ),
        )
    )


def mad_anomalies(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier detection by the modified z-score (Iglewicz &
    Hoaglin 1993): per group, ``med`` = exact median of the values,
    ``mad`` = exact median of |y - med|, and a point is anomalous when
    ``|0.6745 * (y - med) / mad| > threshold``. Both medians are k-th
    selection (``_median_by_selection``) — reduce-order-independent,
    so a SQL oracle replays them verbatim; feed integer-valued doubles
    (counts, cents) for bit-exactness.

    A group with ``mad = 0`` (over half the values identical) has no
    usable spread estimate: its points report NULL z and are NOT
    flagged (the conventional guard; callers wanting the stricter
    "any deviation from the median" rule can filter ``y != med``).

    Returns every input row with n, med, mad, z, is_anomaly — callers
    filter ``is_anomaly`` for the report. Scale shape: two selection
    medians (window rank + aggregate on the group shuffle) and one
    join back; no self-join."""
    # cut once (r13 opt): pts feeds the median selection AND the
    # deviation join; dev feeds the MAD selection, the count agg AND
    # the final report — uncut, the caller's pipeline ran up to 3x
    pts = cut_once(df.select(
        F.col(group_col).alias("__g"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("double").alias("__y"),
    ))
    med = _median_by_selection(pts, "__g", "__y", "med")
    dev = cut_once(pts.join(med.select("__g", "med"), on="__g").select(
        "__g", "__o", "__y", "med",
        F.abs(F.col("__y") - F.col("med")).alias("__d"),
    ))
    mad = _median_by_selection(
        dev.select("__g", F.col("__d").alias("__v")), "__g", "__v", "mad"
    )
    n = dev.groupBy("__g").agg(F.count("*").cast("bigint").alias("n"))
    z = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * (F.col("__y") - F.col("med")) / F.col("mad"),
    )
    return (
        dev.join(mad.select("__g", "mad"), on="__g")
        .join(n, on="__g")
        .select(
            F.col("__g").alias(group_col),
            F.col("__o").alias(order_col),
            F.col("__y").alias(value_col),
            "n",
            "med",
            "mad",
            z.alias("z"),
            F.coalesce(
                F.abs(z) > F.lit(float(threshold)), F.lit(False)
            ).alias("is_anomaly"),
        )
    )
