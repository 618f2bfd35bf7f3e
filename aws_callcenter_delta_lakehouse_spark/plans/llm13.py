"""Thirteenth batch: co-occurrence analytics + conditional-LM scoring.

- market_basket_lift — frequent-itemset association (support / lift)
  over order baskets: the retail-analytics classic, and the same
  co-occurrence shape a data-curation pipeline uses for tag/source
  affinity. Frequent-item pruning BEFORE pair generation bounds the
  blow-up exactly like a shingle df-cap.
- graph_adamic_adar — link prediction over the bipartite
  order–supplier graph: common-neighbor evidence weighted by
  1/ln(neighbor degree) (Adamic & Adar 2003). Hub orders contribute
  little and are additionally capped, so pair work stays bounded.
- text_bigram_lm_nll — word-bigram conditional language model with
  add-one smoothing, scored as per-document NLL (CCNet-style quality
  signal, one step up from the unigram scorer).

All three are oracle-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from .registry import query

_MIN_SUPPORT = 8  # orders containing the part
_AA_MAX_BASKET = 10  # ignore orders with more suppliers than this (hubs)


@query(
    "market_basket_lift",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    freq AS (
        SELECT pk, COUNT(*) AS n_item FROM items
        GROUP BY pk HAVING COUNT(*) >= {_MIN_SUPPORT}
    ),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
    pairs AS (
        SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_both
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        JOIN freq f1 ON f1.pk = a.pk
        JOIN freq f2 ON f2.pk = b.pk
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= 3
    )
    SELECT p1, p2, n_both,
           floor((CAST(n_both AS DOUBLE) * n.n_orders)
                 / (f1.n_item * f2.n_item) * 1e4 + 0.5) / 1e4 AS lift
    FROM pairs
    JOIN freq f1 ON f1.pk = p1
    JOIN freq f2 ON f2.pk = p2
    CROSS JOIN n
    ORDER BY lift DESC, p1, p2
    LIMIT 20
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over order baskets: top-20 part pairs by lift
    = P(a,b) / (P(a) P(b)), with min-support pruning.

    Scale shape: frequent-item filtering happens BEFORE the per-order
    pair self-join (the standard Apriori bound — infrequent items can't
    form frequent pairs), so pair generation is sum(frequent-basket²),
    never corpus². The n_orders total and per-item counts broadcast;
    the ranked cut is TakeOrderedAndProject. Lift's float division is
    computed once per surviving pair from exact integer counts and
    rounded before ranking (p1, p2 break ties)."""
    # cut once: items feeds the support agg, the n_orders scalar AND the
    # frequent-item join — uncut, the distinct shuffle ran 4x (r13 opt)
    items = cut_once(
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    freq = (
        items.groupBy("pk")
        .agg(F.count("*").alias("n_item"))
        .filter(F.col("n_item") >= _MIN_SUPPORT)
    )
    n = items.agg(F.countDistinct("ok").alias("n_orders"))
    # cut once: both pair-join sides read the frequent-item slice
    fitems = cut_once(items.join(F.broadcast(freq), "pk"))
    a = fitems.select("ok", F.col("pk").alias("p1"), F.col("n_item").alias("n1"))
    b = fitems.select("ok", F.col("pk").alias("p2"), F.col("n_item").alias("n2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(
            F.count("*").alias("n_both"),
            F.any_value("n1").alias("n1"),
            F.any_value("n2").alias("n2"),
        )
        .filter(F.col("n_both") >= 3)
    )
    scored = pairs.join(F.broadcast(n)).select(
        "p1",
        "p2",
        "n_both",
        round_portable(
            (F.col("n_both").cast("double") * F.col("n_orders"))
            / (F.col("n1") * F.col("n2")),
            4,
        ).alias("lift"),
    )
    return scored.orderBy(F.desc("lift"), F.asc("p1"), F.asc("p2")).limit(20)


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
    ),
    deg AS (SELECT ok, COUNT(*) AS d FROM edges GROUP BY ok),
    small AS (
        SELECT e.ok, e.sk, d.d FROM edges e JOIN deg d ON e.ok = d.ok
        WHERE d.d <= {_AA_MAX_BASKET}
    )
    SELECT a.sk AS s1, b.sk AS s2,
           floor(SUM(1.0 / ln(a.d)) * 1e4 + 0.5) / 1e4 AS aa_score
    FROM small a JOIN small b ON a.ok = b.ok AND a.sk < b.sk
    GROUP BY a.sk, b.sk
    ORDER BY aa_score DESC, s1, s2
    LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction for supplier pairs: every shared
    order contributes 1/ln(order_degree) — rarer co-occurrence contexts
    are stronger evidence. Top-20 predicted links.

    Scale shape: degrees come from one aggregate; hub contexts (degree
    > 10) are DROPPED before pair generation — they contribute the
    least evidence per pair while costing degree² pairs, the exact
    skew-vs-signal trade the shingle df-cap makes. Pair work is
    sum(min(degree, cap)²). Floats: each pair's score sums IDENTICAL
    ln-reciprocal terms on both engines; rounded before the ranked cut,
    ids break ties."""
    # cut once: edges feeds the degree agg AND the hub-filter join;
    # small feeds both pair-join sides (r13 opt — uncut, the distinct
    # shuffle ran 4x per execution)
    edges = cut_once(
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    deg = edges.groupBy("ok").agg(F.count("*").alias("d"))
    small = cut_once(
        edges.join(deg, "ok")
        .filter(F.col("d") <= _AA_MAX_BASKET)
    )
    a = small.select("ok", F.col("sk").alias("s1"), "d")
    b = small.select("ok", F.col("sk").alias("s2"))
    scored = (
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(round_portable(F.sum(1.0 / F.log(F.col("d"))), 4).alias("aa_score"))
    )
    return scored.orderBy(F.desc("aa_score"), F.asc("s1"), F.asc("s2")).limit(20)


@query(
    "text_bigram_lm_nll",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    big AS (
        SELECT doc_id, l[t.i] AS w1, l[t.i + 1] AS w2
        FROM toks, LATERAL unnest(range(1, len(l))) AS t(i)
    ),
    cb AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
    cu AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w2) AS vocab FROM big),
    scored AS (
        SELECT b.doc_id,
               -ln((cb.c2 + 1.0) / (cu.c1 + v.vocab)) AS nll
        FROM big b
        JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
        JOIN cu ON b.w1 = cu.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           floor(AVG(nll) * 1e4 + 0.5) / 1e4 AS avg_nll
    FROM scored
    GROUP BY doc_id
    """,
)
def text_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram conditional LM quality score: train add-one-smoothed
    P(w2 | w1) on the corpus itself, score each document by average
    negative log-likelihood (low = fluent under the corpus distribution,
    high = atypical — the CCNet perplexity-filter signal).

    Scale shape: bigrams explode once; the count model is two hash
    aggregates (bigram, unigram) joined back ON THE BIGRAM KEY — the
    model lives distributed, never on the driver, so a billion-bigram
    model is just a bigger join. The vocab size reduces to one broadcast
    scalar. Per-doc NLL averages identical smoothed terms on both
    engines; rounding happens after the mean."""
    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    big = cut_once(docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("l", 1, F.size("l") - 1),
                F.slice("l", 2, F.size("l") - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2"))
    # (cut once — r13 opt: big feeds the bigram counts, unigram counts,
    # vocab scalar AND the scoring join; uncut the corpus bigram explode
    # ran 4x per execution)
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    cu = big.groupBy("w1").agg(F.count("*").alias("c1"))
    v = big.agg(F.countDistinct("w2").alias("vocab"))
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .join(F.broadcast(v))
        .select(
            "doc_id",
            (-F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vocab")))).alias(
                "nll"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        round_portable(F.avg("nll"), 4).alias("avg_nll")
    )


@query(
    "stats_information_theory",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n) AS total FROM c),
    px AS (SELECT x, SUM(n) AS nx FROM c GROUP BY x),
    py AS (SELECT y, SUM(n) AS ny FROM c GROUP BY y),
    hx AS (SELECT -SUM((nx * 1.0 / t.total) * ln(nx * 1.0 / t.total)) AS h
           FROM px, t),
    hy AS (SELECT -SUM((ny * 1.0 / t.total) * ln(ny * 1.0 / t.total)) AS h
           FROM py, t),
    hxy AS (SELECT -SUM((n * 1.0 / t.total) * ln(n * 1.0 / t.total)) AS h
            FROM c, t),
    gx AS (SELECT 1.0 - SUM((nx * 1.0 / t.total) * (nx * 1.0 / t.total)) AS g
           FROM px, t)
    SELECT floor(hx.h * 1e6 + 0.5) / 1e6 AS h_status,
           floor(hy.h * 1e6 + 0.5) / 1e6 AS h_priority,
           floor(hxy.h * 1e6 + 0.5) / 1e6 AS h_joint,
           floor((hx.h + hy.h - hxy.h) * 1e6 + 0.5) / 1e6 AS mutual_info,
           floor(gx.g * 1e6 + 0.5) / 1e6 AS gini_status
    FROM hx, hy, hxy, gx
    """,
)
def stats_information_theory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic profile of two categorical columns:
    marginal/joint Shannon entropies, mutual information, and Gini
    impurity — the feature-selection / drift-detection numbers a
    curation pipeline reads over label columns.

    Scale shape: ONE corpus aggregate reduces to the (|X| x |Y|)
    contingency table (map-side combined); every entropy is then
    arithmetic over that broadcast-sized table. Exact integer counts in,
    one rounded float out per statistic — the summations are over
    tens of terms, far below the 1e-6 rounding grain."""
    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("x"), F.col("o_orderpriority").alias("y")
        )
        .agg(F.count("*").alias("n"))
    )
    t = c.agg(F.sum("n").alias("total"))
    withp = c.join(F.broadcast(t))
    px = withp.groupBy("x").agg(
        F.sum("n").alias("nx"), F.any_value("total").alias("total")
    )
    py = withp.groupBy("y").agg(
        F.sum("n").alias("ny"), F.any_value("total").alias("total")
    )

    def _h(df, cnt):
        p = F.col(cnt) * 1.0 / F.col("total")
        return df.agg((-F.sum(p * F.log(p))).alias("h"))

    hx = _h(px, "nx").select(F.col("h").alias("hx"))
    hy = _h(py, "ny").select(F.col("h").alias("hy"))
    hxy = _h(withp, "n").select(F.col("h").alias("hxy"))
    gx = px.agg(
        (1.0 - F.sum((F.col("nx") * 1.0 / F.col("total")) ** 2)).alias("gx")
    )
    one = hx.join(hy).join(hxy).join(gx)
    return one.select(
        round_portable(F.col("hx"), 6).alias("h_status"),
        round_portable(F.col("hy"), 6).alias("h_priority"),
        round_portable(F.col("hxy"), 6).alias("h_joint"),
        round_portable(F.col("hx") + F.col("hy") - F.col("hxy"), 6).alias(
            "mutual_info"
        ),
        round_portable(F.col("gx"), 6).alias("gini_status"),
    )


@query(
    "graph_bfs_hops",
    oracle="""
    WITH RECURSIVE e0 AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT a.l_orderkey) >= 5
    ),
    e AS (
        SELECT s1 AS src, s2 AS dst FROM e0
        UNION ALL
        SELECT s2 AS src, s1 AS dst FROM e0
    ),
    bfs(v, d) AS (
        SELECT (SELECT MIN(src) FROM e), 0
        UNION
        SELECT e.dst, bfs.d + 1
        FROM bfs JOIN e ON e.src = bfs.v
        WHERE bfs.d < 6
    )
    SELECT v AS vertex, CAST(MIN(d) AS INT) AS hops
    FROM bfs GROUP BY v
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances (<= 6 hops) over the supplier
    co-supply graph (pairs sharing >= 5 orders, undirected), from the
    smallest supplier in the edge set.

    The rare ORACLE-CHECKED iterative graph query: the bounded horizon
    lets DuckDB's recursive CTE terminate on the same graph, so the
    engine's level-synchronous frontier BFS (frontier-only join per
    round, anti-join dedup, early exit, checkpoint-truncated lineage)
    diffs exactly. Only the source-vertex scalar and per-round
    emptiness probes touch the driver."""
    from ..operators.components import bfs_hops

    # countDistinct through the self-join measures FASTER here than
    # pre-distincting (ok, sk): the pre-distinct costs an extra full
    # shuffle of the fact slice, more than the count-distinct expand
    # over the already-narrow pair aggregate
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2"))
    # cut once: the symmetrizing union reads e0 twice — uncut, the
    # co-supply self-join + countDistinct ran twice (r13 opt)
    e0 = cut_once(
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.countDistinct("ok").alias("__w"))
        .filter(F.col("__w") >= 5)
        .select("s1", "s2")
    )
    und = e0.select(F.col("s1").alias("src"), F.col("s2").alias("dst")).unionAll(
        e0.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    # materialize the (expensive) edge derivation once; the source
    # scalar and every BFS round read the materialized set
    und = cut_once(und, eager=True)
    source = und.agg(F.min("src")).first()[0]
    return bfs_hops(und, source, max_hops=6)


@query(
    "mode_per_group",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority AS grp, o_orderstatus AS x, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    )
    SELECT grp, x AS mode_status, cnt AS n_mode
    FROM counts
    QUALIFY row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, x) = 1
    ORDER BY grp
    """,
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: Spark's built-in ``mode()`` breaks
    frequency ties arbitrarily (partition-order-dependent), so the
    engine formulation is count + ``max_by`` over (count, -value) —
    reproducible across runs, engines, AND cluster layouts. Two hash
    aggregates, no window; the oracle uses DuckDB's QUALIFY to express
    the same argmax."""
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_orderstatus").alias("x"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    # lexicographic max over (cnt, reversed-value): smallest value wins
    # frequency ties; strings reverse via unicode complement is fragile,
    # so use min_by over (-cnt, value) instead
    return (
        counts.groupBy("grp")
        .agg(
            F.min_by("x", F.struct((-F.col("cnt")).alias("n"), F.col("x"))).alias(
                "mode_status"
            ),
            F.min_by(
                "cnt", F.struct((-F.col("cnt")).alias("n"), F.col("x"))
            ).alias("n_mode"),
        )
        .orderBy("grp")
    )


@query(
    "pareto_revenue_share",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    thr AS (SELECT quantile_cont(cents, 0.8) AS p80 FROM cust),
    tot AS (SELECT SUM(cents) AS total, COUNT(*) AS n_cust FROM cust)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_top_customers,
           CAST(ANY_VALUE(tot.n_cust) AS BIGINT) AS n_customers,
           floor(SUM(c.cents) * 1.0 / ANY_VALUE(tot.total) * 1e6 + 0.5) / 1e6
             AS revenue_share
    FROM cust c, thr, tot
    WHERE c.cents > thr.p80
    """,
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 question: what share of revenue comes from customers
    above the 80th percentile of per-customer spend? A data-dependent
    threshold computed as ONE scalar aggregate (exact interpolated
    percentile over integer cents — both engines interpolate linearly)
    broadcast back over the per-customer rollup; no global sort, no
    window. The output is a single governance-dashboard row."""
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents")
        )
    )
    thr = cust.agg(F.percentile("cents", F.lit(0.8)).alias("p80"))
    tot = cust.agg(
        F.sum("cents").alias("total"), F.count("*").alias("n_cust")
    )
    top = cust.join(F.broadcast(thr)).filter(F.col("cents") > F.col("p80"))
    return top.join(F.broadcast(tot)).agg(
        F.count("*").alias("n_top_customers"),
        F.any_value("n_cust").alias("n_customers"),
        round_portable(
            F.sum("cents") * 1.0 / F.any_value("total"), 6
        ).alias("revenue_share"),
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS r_days,
               COUNT(*) AS f_orders,
               SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS m_cents
        FROM orders GROUP BY o_custkey
    ),
    q AS (
        SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
               quantile_cont(f_orders, [0.2, 0.4, 0.6, 0.8]) AS fq,
               quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS mq
        FROM cust
    ),
    scored AS (
        SELECT 1 + CAST(r_days > rq[1] AS INT) + CAST(r_days > rq[2] AS INT)
                 + CAST(r_days > rq[3] AS INT) + CAST(r_days > rq[4] AS INT) AS r,
               1 + CAST(f_orders > fq[1] AS INT) + CAST(f_orders > fq[2] AS INT)
                 + CAST(f_orders > fq[3] AS INT) + CAST(f_orders > fq[4] AS INT) AS f,
               1 + CAST(m_cents > mq[1] AS INT) + CAST(m_cents > mq[2] AS INT)
                 + CAST(m_cents > mq[3] AS INT) + CAST(m_cents > mq[4] AS INT) AS m
        FROM cust, q
    )
    SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM rollup. Quintile scores come from FOUR broadcast
    quantile thresholds per dimension, NOT a global ntile window (ntile
    with no partition is the single-partition WindowExec this engine
    bans); bucketing is then a pure projection, and the output is the
    (r, f, m) segment histogram. Exact interpolated percentiles over
    integer day/count/cent values agree across engines; strict >
    comparisons sit on interpolated (fractional) thresholds, so boundary
    rows bucket identically."""
    o = load_table(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        o.join(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.any_value("gmax"), F.max("o_orderdate")).alias("r_days"),
            F.count("*").alias("f_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("m_cents"),
        )
    )
    qs = cust.agg(
        F.percentile("r_days", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("rq"),
        F.percentile("f_orders", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("fq"),
        F.percentile("m_cents", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("mq"),
    )

    def score(col, q):
        return (
            F.lit(1)
            + sum(
                (F.col(col) > F.element_at(q, i + 1)).cast("int")
                for i in range(4)
            )
        ).cast("int")

    scored = cust.join(F.broadcast(qs)).select(
        score("r_days", F.col("rq")).alias("r"),
        score("f_orders", F.col("fq")).alias("f"),
        score("m_cents", F.col("mq")).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(F.count("*").alias("n_customers"))


@query(
    "graph_closeness_sampled",
    oracle="""
    WITH RECURSIVE e0 AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT a.l_orderkey) >= 5
    ),
    e AS (
        SELECT s1 AS src, s2 AS dst FROM e0
        UNION ALL
        SELECT s2 AS src, s1 AS dst FROM e0
    ),
    seeds AS (
        SELECT src AS seed FROM (SELECT DISTINCT src FROM e)
        ORDER BY src LIMIT 3
    ),
    bfs(seed, v, d) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION
        SELECT bfs.seed, e.dst, bfs.d + 1
        FROM bfs JOIN e ON e.src = bfs.v
        WHERE bfs.d < 6
    ),
    dist AS (
        SELECT seed, v, CAST(MIN(d) AS INT) AS d FROM bfs GROUP BY 1, 2
    )
    SELECT CAST(seed AS BIGINT) AS seed,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           CAST(SUM(d) AS BIGINT) AS total_hops,
           CASE WHEN SUM(d) > 0
                THEN floor((CAST(COUNT(*) - 1 AS DOUBLE) / SUM(d))
                           * 1e6 + 0.5) / 1e6 END AS closeness
    FROM dist GROUP BY 1
    """,
)
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled CLOSENESS CENTRALITY over the supplier co-supply graph:
    bounded-horizon BFS from the 3 smallest vertices SIMULTANEOUSLY
    (operators/components.py ``multi_source_bfs`` — k seeds advance in
    one level-synchronous frontier, never k traversals), closeness =
    (reached - 1) / sum(hop distances) per seed — the sampled-seed
    estimator production centrality jobs run when exact all-pairs is
    off the table. Hop-bounded, so the DuckDB recursive CTE terminates
    on the same graph and the diff is exact (bfs_hops precedent);
    closeness is an exact integer ratio."""
    from ..operators.components import multi_source_bfs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2"))
    # cut once: the symmetrizing union reads e0 twice (r13 opt)
    e0 = cut_once(
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.countDistinct("ok").alias("__w"))
        .filter(F.col("__w") >= 5)
        .select("s1", "s2")
    )
    und = e0.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst")
    ).unionAll(e0.select(F.col("s2").alias("src"), F.col("s1").alias("dst")))
    und = cut_once(und, eager=True)
    seeds = (
        und.select(F.col("src").alias("seed"))
        .distinct()
        .orderBy("seed")
        .limit(3)
    )
    dist = multi_source_bfs(und, seeds, max_hops=6)
    agg = dist.groupBy("seed").agg(
        (F.count("*") - 1).cast("bigint").alias("n_reached"),
        F.sum("hops").cast("bigint").alias("total_hops"),
    )
    return agg.select(
        F.col("seed").cast("bigint").alias("seed"),
        "n_reached",
        "total_hops",
        F.when(
            F.col("total_hops") > 0,
            round_portable(
                F.col("n_reached").cast("double") / F.col("total_hops"), 6
            ),
        ).alias("closeness"),
    )
