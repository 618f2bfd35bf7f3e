"""Round-4 batch: YoY growth, fold-exact EWMA, temperature mixture
weights, grid-bucketized spatial radius join, delta-join materialized
view refresh, winsorized robust stats. All oracle-checked.

The cross-engine float discipline (CLAUDE.md): every multi-value sum
whose ORDER could differ between engines is either rounded after a
single aggregate (precedent: every revenue query) or folded over an
explicitly sorted list so both engines add in the same order
(EWMA / mixture weights here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import round_portable
from .registry import query


@query(
    "sales_yoy_growth",
    oracle="""
    WITH yr AS (
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
             floor(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2)
    SELECT n_name, yr, revenue,
           floor((revenue - lag(revenue) OVER w) / lag(revenue) OVER w
                 * 100 * 1e6 + 0.5) / 1e6 AS growth_pct
    FROM yr WINDOW w AS (PARTITION BY n_name ORDER BY yr)
    """,
)
def sales_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the reporting shape
    every Gold layer ends with: dimension joins (nation broadcast),
    one yearly aggregate, then a LAG window over the (tiny) yearly
    grain. Revenue is rounded BEFORE the growth division so both
    engines divide identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(round_portable(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.withColumn(
        "growth_pct",
        round_portable((F.col("revenue") - prev) / prev * 100, 6),
    )


@query(
    "events_ewma_per_user",
    oracle="""
    SELECT user_id, event_id,
           floor(list_reduce(
                   list_prepend(CAST(0 AS DOUBLE), list(value) OVER w),
                   (acc, x) -> acc * 0.5 + x * 0.5)
                 * 1e4 + 0.5) / 1e4 AS ewma
    FROM events
    WHERE user_id < 100
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def events_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (alpha = 0.5,
    20-sample horizon) — the smoothing pass of a feature pipeline.

    EWMA is a sequential recurrence, which a windowed SUM cannot
    express (the weight depends on the distance to the CURRENT row;
    reweighting tricks overflow as (1-a)^-n explodes). Instead the
    trailing window is collected as an ordered array and folded with
    the recurrence acc*(1-a) + x*a — bounded work per row, one window
    shuffle on user_id, and BIT-EXACT across engines because both fold
    the same values in the same order (DuckDB list_reduce with a
    prepended zero is the same left fold). alpha=0.5 is also exactly
    representable, so every intermediate double matches."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    # materialize the window array in its own select (HOF-lambda
    # re-evaluation trap, CLAUDE.md perf #1)
    arr = ev.select(
        "user_id", "event_id", F.collect_list("value").over(w).alias("__arr")
    )
    return arr.select(
        "user_id",
        "event_id",
        round_portable(
            F.aggregate(
                "__arr",
                F.lit(0.0),
                lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
            ),
            4,
        ).alias("ewma"),
    )


@query(
    "curation_temperature_mixture",
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    d AS (
      SELECT list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(sqrt(n_docs) ORDER BY source)),
               (acc, x) -> acc + x) AS denom
      FROM c)
    SELECT source, n_docs,
           floor(sqrt(n_docs) / denom * 1e6 + 0.5) / 1e6 AS weight
    FROM c, d
    """,
)
def curation_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixture weights (alpha = 0.5, the
    multilingual-LM up/down-sampling rule: w_i = n_i^a / sum n_j^a).
    The denominator is folded over the SOURCE-SORTED sqrt list so both
    engines add the irrational sqrt terms in the same order — the
    deterministic-reassembly discipline, since a plain SUM's order is
    engine-dependent. sqrt itself is IEEE-exact."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    folded = counts.agg(
        F.sort_array(F.collect_list(F.struct("source", "n_docs"))).alias("__rows")
    ).select(
        "__rows",
        F.aggregate(
            F.transform("__rows", lambda r: F.sqrt(r.n_docs.cast("double"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__denom"),
    )
    return folded.select(
        F.explode("__rows").alias("r"), "__denom"
    ).select(
        F.col("r.source").alias("source"),
        F.col("r.n_docs").alias("n_docs"),
        round_portable(F.sqrt(F.col("r.n_docs").cast("double")) / F.col("__denom"), 6).alias(
            "weight"
        ),
    )


@query(
    "spatial_radius_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 37 % 1000) / CAST(10 AS DOUBLE) AS x,
             (c_custkey * 91 % 1000) / CAST(10 AS DOUBLE) AS y
      FROM customer),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 53 % 1000) / CAST(10 AS DOUBLE) AS x,
             (s_suppkey * 17 % 1000) / CAST(10 AS DOUBLE) AS y
      FROM supplier)
    SELECT c.c_custkey, s.s_suppkey,
           floor(((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y))
                 * 1e6 + 0.5) / 1e6 AS dist_sq
    FROM c, s
    WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 2.25
    """,
)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers within planar distance 1.5 of a supplier site —
    grid-bucketized spatial join (operators/spatial.py): snap to an
    R-sized grid, explode the customer side into its 3x3 neighborhood,
    equi-join on the cell, exact predicate after. Shuffle is 9|C|+|S|
    cell-keyed rows, never the |C|x|S| cross join the oracle runs.
    Coordinates derive from the keys by exact integer arithmetic, so
    the doubles (and the boundary comparison) match across engines."""
    from ..operators.spatial import grid_radius_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 37 % 1000 / 10.0).alias("x"),
        (F.col("c_custkey") * 91 % 1000 / 10.0).alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") * 53 % 1000 / 10.0).alias("x"),
        (F.col("s_suppkey") * 17 % 1000 / 10.0).alias("y"),
    )
    pairs = grid_radius_join(cust, supp, "x", "y", radius=1.5)
    return pairs.select(
        "c_custkey",
        F.col("s_suppkey_r").alias("s_suppkey"),
        round_portable(F.col("dist_sq"), 6).alias("dist_sq"),
    )


@query(
    "incremental_join_mv_refresh",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def incremental_join_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-join maintenance of a fact-dim JOIN materialized view:
    the MV as of 2000-01-01 is refreshed with the later orders as an
    insert batch — ``MV' = MV ∪ (Δfact ⋈ dim)`` plus a broadcast
    anti-join for removed keys (none here), O(|Δ|) instead of the full
    fact rescan the oracle performs. Parity with the recompute IS the
    check."""
    from ..sources.incremental_mv import refresh_join_mv_fact_changes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )
    cutoff = F.lit("2000-01-01").cast("timestamp")
    old_mv = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .drop("o_orderdate")
        .join(dim, "o_custkey")
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
    )
    changes = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .drop("o_orderdate")
        .withColumn("_change_type", F.lit("insert"))
    )
    return refresh_join_mv_fact_changes(
        old_mv, changes, dim, fact_key=["o_orderkey"], join_on=["o_custkey"]
    )


@query(
    "winsorized_stats",
    oracle="""
    WITH p AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.05) AS p05,
             quantile_cont(l_quantity, 0.95) AS p95
      FROM lineitem GROUP BY 1)
    SELECT l.l_returnflag,
           COUNT(*) AS n_rows,
           floor(p05 * 1e4 + 0.5) / 1e4 AS p05,
           floor(p95 * 1e4 + 0.5) / 1e4 AS p95,
           floor(AVG(LEAST(GREATEST(l_quantity, p05), p95)) * 1e4 + 0.5) / 1e4
             AS winsorized_mean
    FROM lineitem l JOIN p USING (l_returnflag)
    GROUP BY 1, p.p05, p.p95
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped-at-p05/p95) per-group mean — the robust
    statistic a feature pipeline uses where outliers poison a plain
    mean. Exact interpolated percentiles per group (tiny aggregate)
    broadcast back onto the fact rows; one shuffle for the percentile
    aggregate, broadcast join for the clip, one more for the final
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    pct = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.05)).alias("p05"),
        F.percentile("l_quantity", F.lit(0.95)).alias("p95"),
    )
    clipped = li.join(F.broadcast(pct), "l_returnflag").withColumn(
        "__clip", F.least(F.greatest(F.col("l_quantity"), F.col("p05")), F.col("p95"))
    )
    return clipped.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        round_portable(F.first("p05"), 4).alias("p05"),
        round_portable(F.first("p95"), 4).alias("p95"),
        round_portable(F.avg("__clip"), 4).alias("winsorized_mean"),
    )


@query(
    "graph_sssp_weighted",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT s_suppkey AS src, ((s_suppkey * 2) % 100) + 1 AS dst,
             1 + (s_suppkey % 7) AS w
      FROM supplier
      UNION ALL
      SELECT s_suppkey, ((s_suppkey * 3 + 7) % 100) + 1, 1 + (s_suppkey % 5)
      FROM supplier),
    paths(v, cost, hops) AS (
      SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, p.cost + e.w, p.hops + 1
      FROM paths p JOIN e ON e.src = p.v WHERE p.hops < 6)
    SELECT v AS vertex, MIN(cost) AS dist FROM paths GROUP BY v
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon weighted shortest paths (Bellman-Ford rounds,
    operators/components.py:sssp_weighted) over a sparse key-derived
    supplier routing graph (out-degree 2, integer weights). After k
    rounds the relaxation equals min cost over <= k-edge paths — the
    SAME quantity the oracle's hop-bounded recursive-CTE path
    enumeration computes, which terminates because the graph is sparse
    (the co-supply graph is near-complete at this SF and would explode
    a path enumeration; the engine-side relaxation would handle it,
    the oracle would not)."""
    from ..operators.components import sssp_weighted

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    k = F.col("s_suppkey")
    edges = s.select(
        k.alias("src"),
        ((k * 2) % 100 + 1).alias("dst"),
        (1 + k % 7).alias("w"),
    ).unionByName(
        s.select(
            k.alias("src"),
            ((k * 3 + 7) % 100 + 1).alias("dst"),
            (1 + k % 5).alias("w"),
        )
    )
    return sssp_weighted(edges, source=1, max_hops=6)


@query(
    "sql_recursive_cte_chain",
    oracle="""
    WITH RECURSIVE chain(orig, node, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey <= 200
      UNION ALL
      SELECT orig, node // 2, depth + 1 FROM chain WHERE node > 1)
    SELECT orig AS c_custkey, CAST(MAX(depth) AS INT) AS chain_depth
    FROM chain GROUP BY orig
    """,
)
def sql_recursive_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI WITH RECURSIVE through spark.sql — Spark 4.1's recursive
    CTE support, diffed against DuckDB's: each customer key walks its
    halving chain k -> k/2 -> ... -> 1 (a parent-pointer hierarchy
    walk, depth = floor(log2 k)). Appropriate engine-side when the
    recursion state stays small (hierarchy tables); for path-exploding
    graphs the dedicated frontier operators (bfs_hops/sssp_weighted)
    are the scale path."""
    from ..catalog import register_all

    register_all(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        WITH RECURSIVE chain(orig, node, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey <= 200
          UNION ALL
          SELECT orig, node DIV 2, depth + 1 FROM chain WHERE node > 1)
        SELECT orig AS c_custkey, CAST(MAX(depth) AS INT) AS chain_depth
        FROM chain GROUP BY orig
        """
    )


@query(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           floor(SUM(l_extendedprice) * 1e2 + 0.5) / 1e2 AS revenue
    FROM lineitem GROUP BY 1, 2
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark >= 3.4 shorthand: every non-aggregate select
    item becomes a grouping key) — SQL-surface parity row."""
    from ..catalog import register_all

    register_all(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               floor(SUM(l_extendedprice) * 1e2 + 0.5) / 1e2 AS revenue
        FROM lineitem GROUP BY ALL
        """
    )


@query(
    "dedup_segment_reassemble",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    p AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(l) + 1),
                                       i -> {'pos': i, 'word': l[i]})) AS s
          FROM w),
    f AS (SELECT doc_id, s.pos AS pos, s.word AS word,
                 CASE WHEN CAST('0x' || substr(md5(s.word), 1, 8) AS BIGINT)
                           % 16 = 0
                      THEN 1 ELSE 0 END AS flag
          FROM p),
    c AS (SELECT doc_id, pos, word,
                 CAST(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos)
                      AS INT) AS chunk_id
          FROM f),
    chunks AS (
      SELECT doc_id, chunk_id,
             string_agg(word, ' ' ORDER BY pos) AS chunk_text,
             doc_id * 100000 + chunk_id AS pos_key
      FROM c GROUP BY doc_id, chunk_id),
    first AS (
      SELECT chunk_text, MIN(pos_key) AS first_key
      FROM chunks GROUP BY chunk_text)
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN ch.pos_key = fi.first_key THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           COALESCE(string_agg(
             CASE WHEN ch.pos_key = fi.first_key THEN ch.chunk_text END,
             ' ' ORDER BY ch.chunk_id), '') AS dedup_text
    FROM chunks ch JOIN first fi USING (chunk_text)
    GROUP BY ch.doc_id
    """,
)
def dedup_segment_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup with reassembly (RefinedWeb-style
    boilerplate removal, operators/substrings.py:segment_dedup):
    content-defined chunks, global first-occurrence-wins on exact
    chunk text, per-document reassembly in chunk order. No pairwise
    comparison; shuffles keyed on chunk_text and doc_id only."""
    from ..operators.substrings import segment_dedup

    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup(docs, "doc_id", "text", divisor=16)


@query(
    "curation_dsir_weights",
    oracle="""
    WITH w AS (
      SELECT doc_id, source = 'src0' AS tgt,
             unnest(string_split(text, ' ')) AS word
      FROM documents),
    counts AS (
      SELECT word, COUNT(*) AS cc,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc
      FROM w GROUP BY word),
    totals AS (
      SELECT SUM(cc) AS ct, SUM(tc) AS tt, COUNT(*) AS v FROM counts),
    lr AS (
      SELECT word,
             ln((tc + 1.0) / (tt + v)) - ln((cc + 1.0) / (ct + v)) AS lr
      FROM counts, totals)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           floor(SUM(lr.lr) * 1e4 + 0.5) / 1e4 AS logweight
    FROM w JOIN lr USING (word)
    GROUP BY w.doc_id
    """,
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights against the 'src0' target domain
    (operators/curation.py:dsir_importance_weights): per-document
    log p_target/p_corpus under add-one-smoothed unigram LMs. The
    word-keyed model join scales to any vocabulary (no broadcast
    dict); the doc aggregate is rounded because the per-doc sum order
    is engine-dependent (same precedent as every avg/sum oracle)."""
    from ..operators.curation import dsir_importance_weights

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_importance_weights(
        docs, "doc_id", "text", is_target=F.col("source") == "src0"
    )
    return scored.select(
        "doc_id", "n_tokens", round_portable(F.col("logweight"), 4).alias("logweight")
    )


def _geohash_cells_oracle() -> str:
    from ..operators.spatial import geohash_oracle_parts

    p = geohash_oracle_parts(6)
    return f"""
    WITH cpts AS (
      SELECT (c_custkey * 37 % 1800) / CAST(10 AS DOUBLE) - 90.0 AS lat,
             (c_custkey * 91 % 3600) / CAST(10 AS DOUBLE) - 180.0 AS lon
      FROM customer),
    cq AS (SELECT {p['latq'].format(expr='lat')} AS latq,
                  {p['lonq'].format(expr='lon')} AS lonq FROM cpts),
    cm AS (SELECT {p['morton']} AS mz FROM cq),
    cg AS (SELECT {p['chars']} AS gh6 FROM cm),
    cc AS (SELECT substr(gh6, 1, 2) AS gh2,
                  CAST(COUNT(*) AS BIGINT) AS n_cust,
                  min(gh6) AS sample_gh6
           FROM cg GROUP BY 1),
    spts AS (
      SELECT (s_suppkey * 53 % 1800) / CAST(10 AS DOUBLE) - 90.0 AS lat,
             (s_suppkey * 17 % 3600) / CAST(10 AS DOUBLE) - 180.0 AS lon
      FROM supplier),
    sq AS (SELECT {p['latq'].format(expr='lat')} AS latq,
                  {p['lonq'].format(expr='lon')} AS lonq FROM spts),
    sm AS (SELECT {p['morton']} AS mz FROM sq),
    sg AS (SELECT {p['chars']} AS gh6 FROM sm),
    sc AS (SELECT substr(gh6, 1, 2) AS gh2,
                  CAST(COUNT(*) AS BIGINT) AS n_supp
           FROM sg GROUP BY 1)
    SELECT cc.gh2 AS gh2, cc.n_cust, cc.sample_gh6, sc.n_supp
    FROM cc JOIN sc ON cc.gh2 = sc.gh2
    """


@query("spatial_geohash_cells", oracle=_geohash_cells_oracle())
def spatial_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash co-location: bucket customers and suppliers into
    standard base-32 geohash cells (operators/spatial.py ``geohash`` —
    pure bit algebra, matches the public test vectors, e.g.
    u4pruyd) and equi-join the precision-2 cells that contain both,
    reporting per-cell counts and the lexicographically-first
    full-precision (6-char) customer hash. Geohash is HIERARCHICAL, so
    the coarse cell is substr(gh6, 1, 2) — one encode pass serves every
    zoom level. Scale shape: per-row JVM-side encode (no UDF, no
    shuffle), then two cell-keyed aggregates + an equi-join on the
    short cell id; the oracle recomputes the identical interleave in
    SQL generated from the same bit layout."""
    from ..operators.spatial import geohash

    def pts(tbl, key, mlat, mlon):
        return load_table(spark, sf_dir, tbl).select(
            ((F.col(key) * mlat % 1800) / 10.0 - 90.0).alias("lat"),
            ((F.col(key) * mlon % 3600) / 10.0 - 180.0).alias("lon"),
        )

    def hashed(df):
        return df.select(
            geohash(F.col("lat"), F.col("lon"), 6).alias("gh6")
        )

    cust = hashed(pts("customer", "c_custkey", 37, 91))
    supp = hashed(pts("supplier", "s_suppkey", 53, 17))
    cc = cust.select(
        F.substring("gh6", 1, 2).alias("gh2"), "gh6"
    ).groupBy("gh2").agg(
        F.count("*").cast("bigint").alias("n_cust"),
        F.min("gh6").alias("sample_gh6"),
    )
    sc = supp.select(F.substring("gh6", 1, 2).alias("gh2")).groupBy(
        "gh2"
    ).agg(F.count("*").cast("bigint").alias("n_supp"))
    return cc.join(sc, on="gh2").select(
        "gh2", "n_cust", "sample_gh6", "n_supp"
    )
