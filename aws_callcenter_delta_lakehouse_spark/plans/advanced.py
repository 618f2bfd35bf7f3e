"""Queries exercising the custom operators (as-of join, range join,
sessionization) with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import round_portable
from ..operators.asof import asof_join
from ..operators.materialize import cut_once
from ..operators.rangejoin import range_join
from ..operators.sessionize import sessionize
from .registry import query


@query(
    "asof_join_last_purchase",
    oracle="""
    SELECT v.event_id, v.user_id,
           epoch_us(p.ts) AS purchase_us_asof
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN
         (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase') p
    ON v.user_id = p.user_id AND v.ts >= p.ts
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each view event, the timestamp (epoch micros) of
    that user's latest purchase at-or-before the view. Output payload is
    the time value (not an id) so exact-tie behavior is value-stable."""
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.unix_micros("ts").alias("purchase_us")
    )
    out = asof_join(
        views,
        purchases,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        payload=["purchase_us"],
    )
    return out.select("event_id", "user_id", "purchase_us_asof")


@query(
    "asof_join_next_purchase_1h",
    oracle="""
    SELECT v.event_id, v.user_id,
           CASE WHEN p.us - v.us <= 3600000000 THEN p.us END
             AS next_purchase_us_asof
    FROM (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN
         (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events WHERE event_type = 'purchase') p
    ON v.user_id = p.user_id AND v.us <= p.us
    """,
)
def asof_join_next_purchase_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance (merge_asof parity): for each
    view, the same user's next purchase at-or-after the view, but only
    if it lands within one hour — later conversions resolve to NULL.
    Times are integer microseconds (CLAUDE.md trap 10); still one
    shuffle (the window carry runs over a descending time order and the
    tolerance is a projection)."""
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.unix_micros("ts").alias("next_purchase_us"),
    )
    out = asof_join(
        views,
        purchases,
        on=["user_id"],
        left_time="us",
        right_time="us",
        payload=["next_purchase_us"],
        tolerance=3_600_000_000,
        direction="forward",
    )
    return out.select("event_id", "user_id", "next_purchase_us_asof")


@query(
    "range_join_price_bands",
    oracle="""
    SELECT band_id, COUNT(*) AS n_orders
    FROM (SELECT i AS band_id, i * 30000.0 AS lo, i * 30000.0 + 60000.0 AS hi
          FROM generate_series(0, 19) t(i))
    JOIN orders ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_id
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bucketization: orders priced into 20 overlapping
    [i*30k, i*30k+60k) bands — each order matches <=2 bands. The plan is
    an equi-join on bucket id, NOT a broadcast-nested-loop."""
    bands = spark.range(20).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 30000.0).alias("lo"),
        (F.col("id") * 30000.0 + 60000.0).alias("hi"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    joined = range_join(orders, "o_totalprice", bands, "lo", "hi", bucket_width=30000.0)
    return joined.groupBy("band_id").agg(F.count("*").alias("n_orders"))


@query(
    "sessionize_users",
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
        SELECT user_id, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1
               AS session_id
        FROM ordered)
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(event_id) AS first_event_id
    FROM tagged
    GROUP BY user_id, session_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1h gap) + per-session rollup."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sessions = sessionize(
        events, ["user_id"], "ts", gap_seconds=3600, order_tiebreak=["event_id"]
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH e AS (
      SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= 5)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.s1 = e1.s1 AND e2.s2 > e1.s2
    JOIN e e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the supplier co-supply graph (edges: supplier pairs
    sharing >= 5 orders). Engine side is degree-oriented
    node-iterator++ — wedge work bounded m^1.5 on any graph; the naive
    three-way self-join stays in the oracle only, where DuckDB runs it
    on the small thresholded sf0.01 graph."""
    from ..operators.components import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.countDistinct("ok").alias("__w"))
        .filter(F.col("__w") >= 5)
        .select("s1", "s2")
    )
    return triangle_count(edges)


@query(
    "events_sequence_funnel",
    oracle="""
    WITH paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP),
                        event_id) AS path
      FROM events GROUP BY user_id)
    SELECT CASE WHEN regexp_matches(path, 'signup(>.*)?>purchase')
                THEN 1 ELSE 0 END AS converted,
           split_part(path, '>', 1) AS first_event,
           COUNT(*) AS n_users
    FROM paths
    GROUP BY 1, 2
    ORDER BY converted, first_event
    """,
)
def events_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence mining: each user's full event path (time
    order, event_id tie-break) matched against a signup-then-purchase
    pattern — the sequence-pattern class funnels/journey analytics
    need. One id-keyed aggregate builds the path; order comes from a
    deterministic (ts, event_id, type) struct sort, never shuffle
    arrival."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    paths = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("__evs")
        )
        .select(
            "user_id",
            F.concat_ws(
                ">", F.transform(F.col("__evs"), lambda s: s["event_type"])
            ).alias("path"),
        )
    )
    return (
        paths.select(
            F.when(
                F.col("path").rlike("signup(>.*)?>purchase"), F.lit(1)
            )
            .otherwise(0)
            .alias("converted"),
            F.split_part(F.col("path"), F.lit(">"), F.lit(1)).alias("first_event"),
        )
        .groupBy("converted", "first_event")
        .agg(F.count("*").alias("n_users"))
        .orderBy("converted", "first_event")
    )


@query(
    "events_pattern_match",
    oracle="""
    WITH syms AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE event_type
               WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
               WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               WHEN 'view' THEN 'v' ELSE '.' END AS ch
      FROM events),
    seqs AS (
      SELECT user_id, string_agg(ch, '' ORDER BY us, ch) AS seq
      FROM syms GROUP BY 1),
    m AS (
      SELECT user_id, CAST(length(seq) AS INTEGER) AS seq_len,
             regexp_extract_all(seq, 'v[cv]*p') AS ms
      FROM seqs)
    SELECT CAST(user_id AS BIGINT) AS user_id, seq_len,
           CAST(len(ms) AS BIGINT) AS n_matches,
           CAST(coalesce(list_sum(list_transform(ms, x -> length(x))), 0)
                AS BIGINT) AS total_matched,
           CAST(coalesce(list_max(list_transform(ms, x -> length(x))), 0)
                AS INTEGER) AS longest
    FROM m
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite (operators/patterns.py): each user's
    time-ordered event types collapse to a symbol string and the CEP
    pattern ``view (click|view)* purchase`` runs as a plain regex with
    AFTER MATCH SKIP PAST LAST ROW semantics — the SQL:2016 / Flink-CEP
    construct Spark lacks, reduced to one shuffle plus JVM-side
    regexp_extract_all. The repeated class excludes the terminator
    symbol, so Java (leftmost-greedy) and RE2 agree match-for-match;
    ties inside a microsecond sort by symbol on both engines."""
    from ..operators.patterns import match_event_pattern

    ev = load_table(spark, sf_dir, "events")
    out = match_event_pattern(
        ev,
        "user_id",
        "ts",
        "event_type",
        {"click": "c", "error": "e", "purchase": "p",
         "signup": "s", "view": "v"},
        "v[cv]*p",
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("seq_len").cast("int").alias("seq_len"),
        "n_matches",
        "total_matched",
        "longest",
    )


@query(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rk
      FROM events),
    first3 AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rk) AS path,
             COUNT(*) AS n_steps
      FROM seq WHERE rk <= 3 GROUP BY 1 HAVING COUNT(*) = 3),
    counts AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM first3 GROUP BY 1)
    SELECT path, n_users FROM counts
    ORDER BY n_users DESC, path LIMIT 10
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 opening paths: each user's FIRST THREE events (ordered
    by microsecond timestamp with the unique event_id tie-break, traps
    6/10) joined into a '>' path string, counted across users — the
    classic product-analytics path report, complementing
    events_markov_transitions (pairwise) with ordered 3-step prefixes.
    One shuffle to each user's head slice; users with fewer than three
    events are excluded on both sides."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    first3 = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count("*").alias("n_steps"),
        )
        .filter(F.col("n_steps") == 3)
    )
    return (
        first3.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(10)
    )


@query(
    "events_pattern_quantified",
    oracle="""
    WITH syms AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE event_type
               WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
               WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               WHEN 'view' THEN 'v' ELSE '.' END AS ch
      FROM events),
    seqs AS (
      SELECT user_id, string_agg(ch, '' ORDER BY us, ch) AS seq
      FROM syms GROUP BY 1),
    m AS (
      SELECT user_id, CAST(length(seq) AS INTEGER) AS seq_len,
             regexp_extract_all(seq, 's(?:v|c){2,3}p') AS ms
      FROM seqs)
    SELECT CAST(user_id AS BIGINT) AS user_id, seq_len,
           CAST(len(ms) AS BIGINT) AS n_matches,
           CAST(coalesce(list_sum(list_transform(ms, x -> length(x))), 0)
                AS BIGINT) AS total_matched,
           CAST(coalesce(list_max(list_transform(ms, x -> length(x))), 0)
                AS INTEGER) AS longest
    FROM m
    """,
)
def events_pattern_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with BOUNDED QUANTIFIERS and ALTERNATION: the
    PATTERN clause ``signup (view|click){2,3} purchase`` is compiled by
    ``operators.patterns.compile_pattern`` (variables -> symbols,
    groups -> non-capturing, quantifiers verbatim) into the regex
    ``s(?:v|c){2,3}p`` and run with AFTER MATCH SKIP PAST LAST ROW
    semantics — the next construct a funnel analyst reaches for beyond
    single-event classes. Oracle-safe for the proven reason: the
    repeated alternation excludes the terminator symbol, so Java
    (greedy + backtrack) and RE2 (leftmost-first) agree match-for-match;
    same-microsecond ties sort by symbol on both engines."""
    from ..operators.patterns import compile_pattern, match_event_pattern

    mapping = {"click": "c", "error": "e", "purchase": "p",
               "signup": "s", "view": "v"}
    ev = load_table(spark, sf_dir, "events")
    out = match_event_pattern(
        ev,
        "user_id",
        "ts",
        "event_type",
        mapping,
        compile_pattern("signup (view|click){2,3} purchase", mapping),
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("seq_len").cast("int").alias("seq_len"),
        "n_matches",
        "total_matched",
        "longest",
    )


@query(
    "graph_neighbor_jaccard",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    deg AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
    p AS (
      SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM e a JOIN e b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
    SELECT CAST(p.s1 AS BIGINT) AS s1, CAST(p.s2 AS BIGINT) AS s2,
           p.c AS shared_orders, d1.n AS n1, d2.n AS n2,
           floor((CAST(p.c AS DOUBLE) / (d1.n + d2.n - p.c)) * 1e6 + 0.5)
             / 1e6 AS jaccard
    FROM p
    JOIN deg d1 ON p.s1 = d1.l_suppkey
    JOIN deg d2 ON p.s2 = d2.l_suppkey
    ORDER BY CAST(p.c AS DOUBLE) / (d1.n + d2.n - p.c) DESC, p.s1, p.s2
    LIMIT 100
    """,
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier similarity by JACCARD OF ORDER NEIGHBORHOODS in the
    bipartite supplier-order graph: |A ∩ B| / |A ∪ B| for every
    supplier pair sharing >= 3 orders — the set-similarity view of the
    co-supply family (triangle/pagerank/kcore count structure; this
    scores affinity). Top-100 by similarity with (s1, s2) tie-breaks
    (trap 6).

    Scale shape: pairs key on the ORDER (suppliers per order is small
    and bounded by order size), never on the supplier or a cartesian —
    pair cardinality is sum over orders of C(suppliers-in-order, 2),
    linear in lineitems for bounded order width; degrees broadcast.
    The jaccard double is an exact integer ratio (c, n1, n2 bigint),
    identical cross-engine, so the float ORDER BY cannot diverge.
    Aliased self-join per the round-10 trap (shared-lineage equality
    would degenerate to trivially-true)."""
    # cut once: li feeds the degree agg AND both pair self-join sides —
    # uncut, the distinct shuffle ran 3x per execution (r13 opt)
    li = cut_once(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    deg = li.groupBy("l_suppkey").agg(F.count("*").cast("bigint").alias("n"))
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"),
            F.col("b.l_suppkey").alias("s2"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
        .filter(F.col("c") >= 3)
    )
    d1 = deg.select(F.col("l_suppkey").alias("s1"), F.col("n").alias("n1"))
    d2 = deg.select(F.col("l_suppkey").alias("s2"), F.col("n").alias("n2"))
    jac = (
        pairs.join(d1, on="s1")
        .join(d2, on="s2")
        .withColumn(
            "__j",
            F.col("c").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("c")),
        )
    )
    return (
        jac.orderBy(F.desc("__j"), F.asc("s1"), F.asc("s2"))
        .limit(100)
        .select(
            F.col("s1").cast("bigint").alias("s1"),
            F.col("s2").cast("bigint").alias("s2"),
            F.col("c").alias("shared_orders"),
            "n1",
            "n2",
            round_portable(F.col("__j"), 6).alias("jaccard"),
        )
    )


@query(
    "events_pattern_spans",
    oracle="""
    WITH syms AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE event_type
               WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
               WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               WHEN 'view' THEN 'v' ELSE '.' END AS ch
      FROM events),
    seqs AS (
      SELECT user_id,
             string_agg(ch, '' ORDER BY us, ch) AS seq,
             list(us ORDER BY us, ch) AS usa
      FROM syms GROUP BY 1),
    m AS (
      SELECT user_id, usa,
             regexp_extract_all(seq, 'v[cv]*p') AS ms,
             regexp_split_to_array(seq, 'v[cv]*p') AS segs
      FROM seqs),
    spans AS (
      SELECT user_id, usa, ms, segs, CAST(t.i AS INTEGER) AS i
      FROM m, UNNEST(generate_series(1, len(ms))) AS t(i)
      WHERE len(ms) > 0),
    pos AS (
      SELECT user_id, usa, ms, i,
        CAST(coalesce(list_sum(list_transform(segs[1:i], x -> length(x))), 0)
           + coalesce(list_sum(list_transform(ms[1:i-1], x -> length(x))), 0)
           + 1 AS INTEGER) AS start_pos
      FROM spans)
    SELECT CAST(user_id AS BIGINT) AS user_id, i AS match_idx, start_pos,
           CAST(start_pos + length(ms[i]) - 1 AS INTEGER) AS end_pos,
           usa[start_pos] AS start_us,
           usa[CAST(start_pos + length(ms[i]) - 1 AS INTEGER)] AS end_us,
           CAST(length(ms[i]) AS INTEGER) AS n_events
    FROM pos
    """,
)
def events_pattern_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE MEASURES (operators/patterns.py
    ``match_event_spans``): one row per CEP match of ``view (click|
    view)* purchase`` with its 1-based symbol positions and FIRST/LAST
    event-time measures, recovered from the match/segment length
    algebra over the per-user symbol string — all-integer, so the
    oracle replays it verbatim (prototyped: split keeps empties on
    both engines, slices ms[1:0] fold to 0). Complements
    events_pattern_match (per-key totals) with the per-match detail a
    funnel drill-down needs."""
    from ..operators.patterns import match_event_spans

    ev = load_table(spark, sf_dir, "events")
    out = match_event_spans(
        ev,
        "user_id",
        "ts",
        "event_type",
        {"click": "c", "error": "e", "purchase": "p",
         "signup": "s", "view": "v"},
        "v[cv]*p",
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "match_idx",
        "start_pos",
        "end_pos",
        "start_us",
        "end_us",
        "n_events",
    )


@query(
    "recsys_item_item_cosine",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS i, b.l_partkey AS j,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM e a JOIN e b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT CAST(co.i AS BIGINT) AS i, CAST(co.j AS BIGINT) AS j,
           co.c AS n_co, di.n AS n_i, dj.n AS n_j,
           floor((CAST(co.c AS DOUBLE) / sqrt(CAST(di.n * dj.n AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS cosine
    FROM co
    JOIN deg di ON co.i = di.l_partkey
    JOIN deg dj ON co.j = dj.l_partkey
    ORDER BY CAST(co.c AS DOUBLE) / sqrt(CAST(di.n * dj.n AS DOUBLE)) DESC,
             co.i, co.j
    LIMIT 100
    """,
)
def recsys_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity of part
    co-occurrence across order baskets — ``co(i,j) / sqrt(n_i n_j)``,
    the classic Amazon-style item-to-item recommender score
    (complements market_basket_lift's probabilistic view with the
    vector-angle one). Top-100 with (i, j) tie-breaks (trap 6).

    Scale shape: pair generation keys on the ORDER (C(basket, 2) per
    basket, linear in lineitems for bounded basket width — the
    neighbor_jaccard discipline), item degrees broadcast; the cosine
    is one sqrt over an exact integer product, identical cross-engine,
    so the float ORDER BY cannot diverge."""
    # cut once: li feeds the degree agg AND both co-occurrence self-join
    # sides; deg feeds both rank joins — uncut, the distinct shuffle ran
    # 5x per execution (r13 opt, SQL-metric evidence)
    li = cut_once(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = cut_once(li.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n")
    ))
    co = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("i"),
            F.col("b.l_partkey").alias("j"),
        )
        .agg(F.count("*").cast("bigint").alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    di = deg.select(F.col("l_partkey").alias("i"), F.col("n").alias("n_i"))
    dj = deg.select(F.col("l_partkey").alias("j"), F.col("n").alias("n_j"))
    scored = (
        co.join(di, on="i")
        .join(dj, on="j")
        .withColumn(
            "__cos",
            F.col("n_co").cast("double")
            / F.sqrt((F.col("n_i") * F.col("n_j")).cast("double")),
        )
    )
    return (
        scored.orderBy(F.desc("__cos"), F.asc("i"), F.asc("j"))
        .limit(100)
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "n_co",
            "n_i",
            "n_j",
            round_portable(F.col("__cos"), 6).alias("cosine"),
        )
    )


@query(
    "events_pattern_overlapping",
    oracle="""
    WITH syms AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE event_type
               WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
               WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               WHEN 'view' THEN 'v' ELSE '.' END AS ch
      FROM events),
    seqs AS (
      SELECT user_id, string_agg(ch, '' ORDER BY us, ch) AS seq
      FROM syms GROUP BY 1),
    m AS (
      SELECT user_id, CAST(length(seq) AS INTEGER) AS seq_len,
             list_filter(range(1, length(seq) + 1),
                         i -> regexp_extract(seq[i:],
                                             '^(?:v[cv]*p)') <> '') AS st
      FROM seqs)
    SELECT CAST(user_id AS BIGINT) AS user_id, seq_len,
           CAST(len(st) AS BIGINT) AS n_matches,
           CAST(coalesce(st[1], 0) AS INTEGER) AS first_start,
           CAST(coalesce(st[len(st)], 0) AS INTEGER) AS last_start
    FROM m
    """,
)
def events_pattern_overlapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH SKIP TO NEXT ROW — OVERLAPPING CEP matches of
    ``view (click|view)* purchase`` (operators/patterns.py
    ``match_event_starts``): every position where a match BEGINS,
    found by anchoring the regex at each suffix. Existence-at-position
    is greediness-independent, so Java and RE2 agree without the
    terminator-exclusion property the non-overlapping variant needs —
    and RE2's missing lookahead never matters. Completes the
    MATCH_RECOGNIZE skip-semantics pair (events_pattern_match = SKIP
    PAST LAST ROW)."""
    from ..operators.patterns import match_event_starts

    ev = load_table(spark, sf_dir, "events")
    out = match_event_starts(
        ev,
        "user_id",
        "ts",
        "event_type",
        {"click": "c", "error": "e", "purchase": "p",
         "signup": "s", "view": "v"},
        "v[cv]*p",
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "seq_len",
        "n_matches",
        "first_start",
        "last_start",
    )
