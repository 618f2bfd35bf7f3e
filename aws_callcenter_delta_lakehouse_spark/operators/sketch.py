"""Count-min sketch over a token stream — mergeable heavy-hitter counts.

The CMS (Cormode & Muthukrishnan 2005) is THE sketch for distributed
frequency estimation: each partition's counter grid is a plain sum, so
the whole sketch is one ``groupBy(row, bucket).count`` — mergeable by
construction, no custom state. Estimates are biased UP (collisions only
add), and ``min`` over ``depth`` independent rows bounds the error at
``eps * N`` with probability ``1 - delta`` (eps = e/width,
delta = e^-depth).

Everything is seeded ``xxhash64`` — deterministic across runs and
cluster sizes, which is what makes the probe query testable at all.

At 100 TB: the sketch is ``depth x width`` longs (a few KB) regardless
of corpus size — it reduces on the executors and broadcasts back for
probing. Probing N candidate terms is a projection + broadcast join,
never a shuffle of the corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import cut_once


def cms_build(
    df: DataFrame, term_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build the (row, bucket, cnt) counter grid for one token per input
    row. One explode by ``depth`` (cheap: depth structs per token) and
    one hash aggregate over at most ``depth*width`` groups — partial
    aggregation compresses each partition to sketch size before the
    (tiny) shuffle."""
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("row"),
                F.pmod(F.xxhash64(F.col(term_col), F.lit(d)), width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_probe(
    sketch: DataFrame, terms: Sequence[str], depth: int = 4, width: int = 1024
) -> DataFrame:
    """Estimate counts for ``terms``: re-hash each probe term with the
    same seeds, broadcast-join against the sketch grid, and take the
    row-wise MIN. Terms the sketch never saw estimate as 0 (their cell
    may still collide -> the estimate stays an upper bound)."""
    spark = sketch.sparkSession
    probes = spark.createDataFrame([(t,) for t in terms], ["term"])
    return cms_probe_df(sketch, probes, "term", depth=depth, width=width)


def cms_probe_df(
    sketch: DataFrame,
    probes: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Probe estimates for an arbitrary DataFrame of terms (one column
    ``term_col``). Same broadcast grid join as :func:`cms_probe`, but the
    probe side can be distributed — e.g. the corpus vocabulary itself
    when harvesting heavy-hitter candidates."""
    if term_col != "term":
        probes = probes.select(F.col(term_col).alias("term"))
    cells = probes.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        F.pmod(F.xxhash64(F.col("term"), F.lit(d)), width).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select("term", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def cms_heavy_hitters(
    toks: DataFrame,
    term_col: str = "term",
    phi: float = 0.02,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Exact phi-heavy-hitters via the classic CMS two-pass algorithm
    (Cormode & Muthukrishnan 2005, §4): pass 1 builds the sketch; the
    candidate set is every term whose ESTIMATE >= phi*N — a guaranteed
    SUPERSET of the true heavy hitters because CMS errors are one-sided
    (collisions only inflate) — and pass 2 exact-counts only the
    candidates and keeps those whose TRUE count >= phi*N. The output is
    therefore exactly the true heavy hitters no matter how the hash
    buckets collide, which is what makes this oracle-checkable against
    a plain GROUP BY ... HAVING.

    Scale shape: the sketch and the candidate list are KB-sized and
    broadcast; the only corpus-wide shuffles are the sketch's partial
    aggregation (<=depth*width groups) and a hash aggregate over the
    candidate-filtered stream. N is read off the sketch itself (each
    row of the grid sums to N), so no extra count pass.
    """
    # cut the token stream once: the sketch build, the vocabulary
    # distinct AND the exact pass all consume it — uncut, the corpus
    # tokenize/explode ran 3x per execution (r13 opt, guide §2.4)
    toks = cut_once(toks.select(F.col(term_col).alias("term")))
    # tiny (<= depth*width rows) and consumed three times below —
    # materialize once instead of re-scanning the corpus per consumer
    sketch = cut_once(cms_build(toks, "term", depth=depth, width=width))
    total = (
        sketch.filter(F.col("row") == 0)
        .agg(F.sum("cnt").alias("n"))
        .withColumn("__k", F.lit(1))
    )
    vocab = toks.distinct()
    candidates = (
        cms_probe_df(sketch, vocab, "term", depth=depth, width=width)
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(total), "__k")
        .filter(F.col("est_count") >= F.lit(phi) * F.col("n"))
        .select("term")
    )
    return (
        toks.join(F.broadcast(candidates), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("exact_count"))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(total), "__k")
        .filter(F.col("exact_count") >= F.lit(phi) * F.col("n"))
        .select("term", "exact_count")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch — mergeable distinct counting with
# SET OPERATIONS over the summaries
# ---------------------------------------------------------------------------

_TWO63 = float(2**63)
_TWO64 = float(2**64)
_TWO60 = float(2**60)


def _theta(h, portable: bool = False):
    """k-th smallest hash -> its quantile in [0, 1). Signed-xxhash64
    domain by default; the portable (low-60-bits-of-md5) domain is
    [0, 2^60), engine-identical wherever md5 exists."""
    if portable:
        return (h.cast("double") + 1.0) / _TWO60
    return (h.cast("double") + _TWO63 + 1.0) / _TWO64


def _kmv_hash(key_col: str, portable: bool):
    if portable:
        return F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
        ).cast("bigint")
    return F.xxhash64(F.col(key_col))


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str],
    k: int = 256,
    portable: bool = False,
) -> DataFrame:
    """Per-group KMV theta sketch (Bar-Yossef et al. RANDOM'02;
    Beyer et al. SIGMOD'07): the ``k`` smallest distinct ``xxhash64``
    values of ``key_col``. Returns (group_cols..., ``kmv`` sorted
    array<bigint>, ``n_seen`` = sketch size).

    Unlike HLL, the summary supports SET OPERATIONS: any pair of
    group sketches can estimate union/intersection cardinality without
    re-touching the raw data (``kmv_overlap_pairs``) — the segment-
    overlap question HLL cannot answer.

    Signed hash order IS unsigned quantile order (the +2^63 shift is
    monotone), so the k-th smallest signed hash at quantile θ gives the
    unbiased estimate (k−1)/θ with RSE ≈ 1/sqrt(k−2).

    Scale: distinct (group, hash) then a per-group bounded top-k
    (row_number ≤ k) — two key shuffles, per-group state bounded at
    ``k`` longs, summaries a few KB per group forever after."""
    from pyspark.sql import Window

    hashed = df.select(
        *group_cols, _kmv_hash(key_col, portable).alias("__h")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("__h")
    topk = hashed.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return topk.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("__h")).alias("kmv"),
        F.count("*").cast("bigint").alias("n_seen"),
    )


def kmv_estimate(
    sketches: DataFrame, k: int = 256, portable: bool = False
) -> DataFrame:
    """Distinct-count estimate per sketch row: exact ``n_seen`` when
    the group never filled the sketch (< k distinct values — the
    sketch IS the value set), else (k−1)/θ_k."""
    full = F.col("n_seen") >= k
    est = F.when(
        full, (k - 1) / _theta(F.element_at("kmv", k), portable)
    ).otherwise(F.col("n_seen").cast("double"))
    return sketches.withColumn("est_distinct", est)


def kmv_overlap_pairs(
    sketches: DataFrame,
    group_col: str,
    k: int = 256,
    portable: bool = False,
) -> DataFrame:
    """Pairwise segment-overlap estimates from the SUMMARIES alone:
    for groups (a, b), cut both sketches at θ = min(θ_a, θ_b) — below
    θ each sketch holds EVERY distinct hash of its set (that is the
    KMV invariant), so the cut sketches are exact θ-samples and
    |common < θ| / θ estimates |A ∩ B|, |distinct union < θ| / θ
    estimates |A ∪ B|. Partially-filled sketches have θ = 1 (they hold
    their whole set; estimates degrade to exact).

    The pair join moves only k-long arrays per group — at 100 TB the
    raw data is touched once by ``kmv_sketch``; every pairwise overlap
    after that is summary-only work (the DataSketches
    theta-intersection pattern)."""
    a = sketches.select(
        F.col(group_col).alias("g1"),
        F.col("kmv").alias("__ka"),
        F.col("n_seen").alias("__na"),
    )
    b = sketches.select(
        F.col(group_col).alias("g2"),
        F.col("kmv").alias("__kb"),
        F.col("n_seen").alias("__nb"),
    )
    pairs = a.join(b, F.col("g1") < F.col("g2"))
    theta_a = F.when(
        F.col("__na") >= k, _theta(F.element_at("__ka", k), portable)
    ).otherwise(F.lit(1.0))
    theta_b = F.when(
        F.col("__nb") >= k, _theta(F.element_at("__kb", k), portable)
    ).otherwise(F.lit(1.0))
    pairs = pairs.select(
        "g1", "g2", "__ka", "__kb", F.least(theta_a, theta_b).alias("__theta")
    )
    # cut both sketches at the shared θ, then plain array set ops
    cut_a = F.filter("__ka", lambda h: _theta(h, portable) <= F.col("__theta"))
    cut_b = F.filter("__kb", lambda h: _theta(h, portable) <= F.col("__theta"))
    pairs = pairs.select(
        "g1",
        "g2",
        "__theta",
        cut_a.alias("__ca"),
        cut_b.alias("__cb"),
    )
    inter = F.size(F.array_intersect("__ca", "__cb")).cast("double")
    union = F.size(F.array_union("__ca", "__cb")).cast("double")
    return pairs.select(
        "g1",
        "g2",
        (inter / F.col("__theta")).alias("est_intersection"),
        (union / F.col("__theta")).alias("est_union"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias(
            "est_jaccard"
        ),
    )


def kmv_merge(
    sketches: DataFrame, group_cols: Sequence[str], k: int = 256
) -> DataFrame:
    """Union-merge KMV sketches that share ``group_cols``: explode the
    k-long arrays, distinct, re-take the k smallest per group. The
    result is EXACTLY the sketch that would have been built over the
    unioned raw sets restricted to the k global minima — KMV's
    mergeability property (the k smallest of a union are a subset of
    the per-part k smallest), which is what lets daily sketches answer
    ANY rolling window or ad-hoc grouping later without re-touching
    raw data. Work scales with |sketch rows| × k, never with raw
    cardinality."""
    from pyspark.sql import Window

    exploded = sketches.select(
        *group_cols, F.explode("kmv").alias("__h")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("__h")
    topk = exploded.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return topk.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("__h")).alias("kmv"),
        F.count("*").cast("bigint").alias("n_seen"),
    )
