"""Similarity search over embedding columns (``array<float>``).

Engine extension surface (BASELINE.json north star). Two paths:

- ``cosine`` / ``brute_force_topk``: exact, all built-in array ops
  (``zip_with`` + ``aggregate`` run JVM-side). The baseline, and the
  verifier for the approximate paths.
- ``hyperplane_lsh_buckets`` / ``ann_topk``: random-hyperplane LSH —
  sign bits against D fixed pseudo-random hyperplanes bucket the
  corpus; queries probe only their bucket (optionally multi-probe).
  At 100 TB the corpus is bucketed once (one shuffle, then
  partition-pruned parquet), and each query touches ~corpus/2^D rows.

Hyperplanes are generated from a seeded xxhash64 of (dim_index, plane)
so both sides of a differential test can reproduce them — no driver-side
randomness, no collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import cut_once

from ..functions.scalars import round_portable


def dot(a: Column, b: Column) -> Column:
    # cast BEFORE multiplying: float*float loses bits a double multiply
    # keeps, and differential oracles compute in double.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    query_vec: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine. ``orderBy().limit()`` plans as
    TakeOrderedAndProject — a full scan but no full sort. Ties broken by
    id for determinism; similarity rounded so float-accumulation order
    cannot flip ranks across engines."""
    scored = corpus.select(
        F.col(id_col),
        round_portable(cosine(F.col(vec_col), query_vec), round_digits).alias("sim"),
    )
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: each component maps to
    round(x / scale) with scale = max|x| / 127. A pure projection — no
    shuffle — that shrinks every downstream exchange/cache of the
    vector column ~4x (tinyint vs float).

    Cosine is invariant to per-vector uniform scaling, so similarity on
    the quantized vectors needs NO dequantization — the only error is
    the <=0.5-ulp rounding per component (recall pinned by
    ``tests/test_similarity.py``)."""
    v = F.col(vec_col)
    scale = (
        F.aggregate(
            v,
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
        )
        / 127.0
    )
    q = F.transform(
        v, lambda x: F.floor(x.cast("double") / scale + 0.5).cast("tinyint")
    )
    return df.withColumn(
        out_col, F.when(scale > 0, q).otherwise(v.cast("array<tinyint>"))
    )


def quantized_topk(
    corpus: DataFrame,
    query_vec: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Top-k cosine over int8-quantized vectors — the memory-bandwidth
    path: scan + rank identical to ``brute_force_topk`` but every vector
    byte moved is 1/4 the size. Approximate (quantization error), so
    rows-only; recall vs the exact path is pinned in tests."""
    q = quantize_int8(corpus, vec_col)
    scored = q.select(
        F.col(id_col),
        round_portable(cosine(F.col("qvec"), query_vec), round_digits).alias("sim"),
    )
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def hyperplane_constants(dim: int, plane: int) -> list[float]:
    """The PORTABLE hyperplane: component j is the low 60 bits of
    md5(plane|j) scaled to [-1, 1), computed in driver Python once at
    plan-build time. The exact double constants land in the Spark plan
    as literals AND (via ``repr``, which round-trips exactly) in the
    generated oracle SQL — so an engine with no compatible hash at all
    reproduces the buckets bit-for-bit."""
    import hashlib

    out = []
    for j in range(dim):
        h = int(
            hashlib.md5(f"{plane}|{j}".encode()).hexdigest()[:15], 16
        )
        out.append(h / float(1 << 59) - 1.0)
    return out


def _hyperplane(dim: int, plane: int, portable: bool = False) -> Column:
    """Deterministic pseudo-random unit-free hyperplane: component j is
    xxhash64(j, plane) scaled to [-1, 1) — or the md5-derived
    ``hyperplane_constants`` when ``portable`` (same plan shape; the
    constants fold to literals either way). Seeded and reproducible.

    Note: an unrolled element_at*literal sum was tried and is WORSE —
    384 flat terms exceed Janino's method limit, codegen falls back to
    interpreted mode and the query runs 2x slower. The array literal +
    zip_with formulation stays inside whole-stage codegen."""
    if portable:
        return F.array(
            *[F.lit(v) for v in hyperplane_constants(dim, plane)]
        )
    return F.array(
        *[
            (F.xxhash64(F.lit(j), F.lit(plane)) / F.lit(float(1 << 63)))
            for j in range(dim)
        ]
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Append ``bucket``: the sign-bit signature against ``num_planes``
    fixed hyperplanes. Cosine-similar vectors collide with high
    probability; 2^num_planes buckets."""
    bucket = None
    for p in range(num_planes):
        bit = F.shiftleft(
            (dot(F.col(vec_col), _hyperplane(dim, p, portable)) > 0).cast(
                "long"
            ),
            p,
        )
        bucket = bit if bucket is None else bucket.bitwiseOR(bit)
    return df.withColumn("bucket", bucket)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    dim: int = 64,
    num_planes: int = 6,
    k: int = 5,
    multiprobe: bool = False,
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k for a *set* of queries: bucket both sides with
    the same hyperplanes, equi-join on bucket, then exact cosine + window
    top-k within the candidates. Recall < 1 by construction with a single
    probe; ``multiprobe=True`` additionally probes every Hamming-1
    neighbor bucket (each sign bit flipped — the planes the query is
    closest to are the likeliest to disagree for a true neighbor),
    multiplying candidates by ~(num_planes+1) for a large recall gain."""
    from pyspark.sql import Window

    c = hyperplane_lsh_buckets(corpus, vec_col, dim, num_planes, portable)
    q = hyperplane_lsh_buckets(
        queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias(vec_col)
        ),
        vec_col,
        dim,
        num_planes,
        portable,
    ).withColumnsRenamed({vec_col: query_vec_col})
    if multiprobe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(num_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(probe_buckets))
    cand = q.join(c, on="bucket").select(
        query_id_col,
        F.col(id_col),
        round_portable(cosine(F.col(query_vec_col), F.col(vec_col)), 4).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    threshold: float = 0.8,
    dim: int = 64,
    num_planes: int = 6,
    multiprobe: bool = True,
    portable: bool = False,
    round_digits: int = 4,
) -> DataFrame:
    """RANGE (radius) search: for each query, EVERY corpus vector with
    rounded cosine >= ``threshold`` — the all-neighbors member of the
    similarity family (``ann_topk`` caps at k; this returns the whole
    ball, the shape retrieval filters and near-dup audits need).

    Same candidate generation as ``ann_topk``: shared hyperplane
    buckets, query-side Hamming-1 multiprobe, exact cosine verify —
    approximate (banding recall), with ``portable=True`` making the
    bucketing itself oracle-replayable (the repo PORTABLE-HASH
    pattern). The candidate shuffle is NARROW (ids only through the
    bucket join; vectors fetched by two hash joins afterwards — the
    ``cosine_near_dup_pairs`` discipline), so the exchange payload is
    two longs per candidate, not 2 x dim floats.

    The threshold compares the ROUNDED similarity (``round_digits``),
    so the boundary cannot flip cross-engine. Output: query_id_col,
    id_col, sim."""
    c = hyperplane_lsh_buckets(corpus, vec_col, dim, num_planes, portable)
    q = hyperplane_lsh_buckets(
        queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias(vec_col)
        ),
        vec_col,
        dim,
        num_planes,
        portable,
    )
    if multiprobe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(num_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(probe_buckets))
    cand = (
        q.select("bucket", query_id_col)
        .join(c.select("bucket", id_col), on="bucket")
        .select(query_id_col, id_col)
    )
    qv = queries.select(query_id_col, query_vec_col)
    cv = corpus.select(id_col, F.col(vec_col).alias("__cv"))
    scored = (
        cand.join(qv, on=query_id_col)
        .join(cv, on=id_col)
        .select(
            query_id_col,
            id_col,
            round_portable(
                cosine(F.col(query_vec_col), F.col("__cv")), round_digits
            ).alias("sim"),
        )
    )
    return scored.filter(F.col("sim") >= threshold)


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """Fold the (tiny) centroid table into ONE row holding an
    ``array<struct<centroid_id, centroid_vec>>`` column ``__cents``,
    with each centroid vector L2-NORMALIZED once here (16 rows) so the
    per-corpus-row scoring needs no norms at all: ``argmax cos(v, c) =
    argmax dot(v, ĉ)`` — the row's own norm is a positive constant
    across centroids and cannot change the argmax. Broadcast-joined
    onto a big side this adds a constant column — no fan-out, no
    shuffle of the big side."""
    normed = centroids.select(
        "centroid_id", "centroid_vec", norm(F.col("centroid_vec")).alias("__n")
    ).select(
        "centroid_id",
        F.transform(
            "centroid_vec", lambda x: x.cast("double") / F.col("__n")
        ).alias("centroid_vec"),
    )
    return normed.agg(
        F.collect_list(F.struct("centroid_id", "centroid_vec")).alias("__cents")
    )


def _nearest_centroids(vec_col: str) -> Column:
    """``array<struct<__negsim, centroid_id>>`` scored against the
    pre-normalized ``__cents``, ascending-sortable: smallest
    ``__negsim`` = highest cosine, ties broken by smallest centroid_id.
    Pure projection; one dot product per centroid, no norms (the naive
    ``cosine`` here recomputed the ROW norm once per centroid inside
    the lambda — no CSE across lambda invocations)."""
    # named_struct, not struct(...).alias: aliases inside a higher-order-
    # function lambda don't survive analysis (fields come out as `col`).
    return F.transform(
        F.col("__cents"),
        lambda c: F.named_struct(
            F.lit("__negsim"),
            -dot(F.col(vec_col), c["centroid_vec"]),
            F.lit("centroid_id"),
            c["centroid_id"],
        ),
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_col: str | None = None,
    dim: int = 64,
    num_planes: int = 6,
    round_digits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (d1, d2, cos_sim >=
    threshold, d1 < d2) — the embedding-space member of the dedup
    family (exact / MinHash / SimHash / n-gram live in dedup.py).

    Blocking decides scale behavior:
    - ``block_col`` set: EXACT within blocks — a self equi-join on the
      block key (an IVF cell / cluster id / shard key). Shuffle is one
      hash partition on the block; pair work is sum(block^2), bounded
      by the block sizes, never |corpus|^2. Recall = 1 within blocks
      by construction.
    - ``block_col`` None: hyperplane-LSH buckets (+ Hamming-1
      multiprobe on one side) generate candidates, then exact cosine
      verifies. Approximate (banding curve), but needs no precomputed
      clustering; right for genuinely-near duplicates (cos >= ~0.9),
      where sign-bit collision probability is high.
    """
    if block_col is not None:
        a = corpus.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).alias("d1"),
            F.col(vec_col).alias("__v1"),
        )
        b = corpus.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).alias("d2"),
            F.col(vec_col).alias("__v2"),
        )
        pairs = a.join(b, on="__blk").filter(F.col("d1") < F.col("d2"))
    else:
        bucketed = hyperplane_lsh_buckets(corpus, vec_col, dim, num_planes)
        a = bucketed.select("bucket", F.col(id_col).alias("d1"))
        # multiprobe the left side: each row also visits every
        # Hamming-1 neighbor bucket, so pairs disagreeing on one plane
        # still collide
        probe = F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
            )
        )
        a = a.withColumn("bucket", probe)
        b = bucketed.select("bucket", F.col(id_col).alias("d2"))
        # keep the candidate shuffle NARROW: dedupe (d1, d2) ids only,
        # then fetch vectors with two hash joins — never shuffle the
        # vector payload through the bucket join + distinct
        cand = (
            a.select("bucket", "d1")
            .join(b, on="bucket")
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
        )
        v1 = corpus.select(
            F.col(id_col).alias("d1"), F.col(vec_col).alias("__v1")
        )
        v2 = corpus.select(
            F.col(id_col).alias("d2"), F.col(vec_col).alias("__v2")
        )
        pairs = cand.join(v1, on="d1").join(v2, on="d2")
    scored = pairs.select(
        "d1",
        "d2",
        round_portable(cosine(F.col("__v1"), F.col("__v2")), round_digits).alias(
            "cos_sim"
        ),
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """IVF (inverted-file) index with deterministic seeding: the
    ``num_centroids`` lowest-id vectors serve as centroids (a k-means
    iteration could refine them — the partitioning shape is identical).
    Returns (centroids, assigned) where ``assigned`` adds
    ``centroid_id`` to every corpus row.

    Scale: assignment is a ZERO-SHUFFLE projection — the centroids fold
    into a one-row array (``_centroid_array``), broadcast onto the
    corpus, and the nearest centroid is an ``array_min`` argmax per row.
    (The previous formulation fanned every corpus row out
    ×num_centroids through a join and took the argmax with a
    per-row window — a num_centroids× data shuffle at 100 TB;
    ``tests/test_scale_plans.py`` pins the shuffle-free plan.) The
    assigned corpus would be WRITTEN partitioned by centroid_id so
    query probes prune partitions."""
    centroids = (
        corpus.orderBy(id_col)
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )
    return centroids, _assign(corpus, centroids, id_col, vec_col)


def _assign(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment as a zero-shuffle projection."""
    return corpus.join(F.broadcast(_centroid_array(centroids))).select(
        id_col,
        vec_col,
        F.array_min(_nearest_centroids(vec_col))["centroid_id"].alias("centroid_id"),
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Lloyd's k-means over DataFrame ops: assign (zero-shuffle argmax
    projection, see ``ivf_index``) then recompute each centroid as the
    elementwise mean of its members. The mean is a posexplode +
    avg(centroid_id, pos) — hash aggregation with MAP-SIDE partial
    combine, so the shuffle is #partitions x centroids x dim
    floats, independent of corpus size — then array re-assembly via
    sorted collect_list (centroids x dim rows: tiny).

    Returns refined centroids (centroid_id, centroid_vec). Each round's
    output (a centroids x dim table — 16x64 doubles here) is eagerly
    cut with ``cut_once``: without it, every downstream broadcast of the
    centroids (next iteration's assign, the final index assign, the
    query-side probe selection) re-derives the whole refinement
    lineage, multiplying corpus passes by the number of consumers. With
    it, Lloyd's costs exactly one corpus pass per iteration. (Same
    contract as the graph operators: executor-local by default, a
    reliable fault-tolerant truncation when the session conf
    ``spark.managedTable.cutCheckpointDir`` is set.)

    ``portable=True`` switches the Lloyd mean to FIXED-POINT averaging:
    each member value is quantized at 2^-20 (``floor(x * 2^20 + 0.5)``
    as BIGINT) and the mean is the exact integer sum divided at the
    end. Integer addition is associative, so the centroid trajectory is
    BITWISE-reproducible on any engine, any partitioning, any reduce
    order — which is both what makes ``similarity_ivf_kmeans``
    oracle-checkable and a real distributed-training property
    (re-running the job yields the identical index). Quantization error
    is <=2^-21 per element — immaterial next to Lloyd's own movement.
    Default False keeps the plain ``avg`` fast path (one fewer
    projection; same plan shape)."""
    _S = 1048576.0  # 2^20 fixed-point scale (portable mode)
    for _ in range(iterations):
        assigned = (
            corpus.join(F.broadcast(_centroid_array(centroids)))
            .select(
                F.array_min(_nearest_centroids(vec_col))["centroid_id"].alias(
                    "centroid_id"
                ),
                F.posexplode(F.col(vec_col)).alias("pos", "val"),
            )
        )
        if portable:
            q = F.floor(
                F.col("val").cast("double") * F.lit(_S) + F.lit(0.5)
            ).cast("bigint")
            mean_expr = F.sum(q).cast("double") / (
                F.lit(_S) * F.count("*").cast("double")
            )
        else:
            mean_expr = F.avg(F.col("val").cast("double"))
        means = (
            assigned.groupBy("centroid_id", "pos")
            .agg(mean_expr.alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform("pm", lambda s: s["m"]).alias("centroid_vec"),
            )
        )
        centroids = cut_once(means, eager=True)
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    num_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    refine_iterations: int = 0,
    portable_refine: bool = False,
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` nearest centroids per query, exact
    cosine within the probed cells, window top-k. Recall grows with
    nprobe (nprobe = num_centroids -> exact).

    Probe selection is the same zero-shuffle projection as index
    assignment: sort the per-row centroid-score array, slice nprobe,
    explode — no fan-out join, no window shuffle on the query side.

    ``refine_iterations`` > 0 runs Lloyd's k-means (``kmeans_refine``)
    on the seed centroids first — tighter cells, better recall per
    probe. ``portable_refine`` selects its fixed-point (engine- and
    partitioning-reproducible) mean."""
    from pyspark.sql import Window

    centroids, assigned = ivf_index(corpus, id_col, vec_col, num_centroids)
    if refine_iterations > 0:
        centroids = kmeans_refine(
            corpus, centroids, id_col, vec_col, refine_iterations,
            portable=portable_refine,
        )
        assigned = _assign(corpus, centroids, id_col, vec_col)
    probes = (
        queries.join(F.broadcast(_centroid_array(centroids)))
        .select(
            query_id_col,
            query_vec_col,
            F.explode(
                F.slice(F.array_sort(_nearest_centroids(query_vec_col)), 1, nprobe)
            ).alias("__probe"),
        )
        .select(
            query_id_col, query_vec_col, F.col("__probe.centroid_id").alias("centroid_id")
        )
    )
    cand = probes.join(assigned, on="centroid_id").select(
        query_id_col,
        F.col(id_col),
        round_portable(cosine(F.col(query_vec_col), F.col(vec_col)), 4).alias("sim"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings
    (zero-shuffle IVF assignment), find within-cluster cosine
    near-duplicates (exact within blocks — pair work is sum(cluster²),
    never corpus²), and keep the lowest-id member of every near-dup
    pair. Greedy min-id survivorship: for a chain a~b~c the survivors
    are exactly the ids that are no pair's larger member (a), matching
    the keep-one-per-neighborhood behavior of SemDeDup (Abbas et al.,
    2023) without an iterative component step.

    Returns the surviving rows of ``assigned`` (id, vec, centroid_id).
    """
    _, assigned = ivf_index(corpus, id_col, vec_col, num_centroids)
    pairs = cosine_near_dup_pairs(
        assigned, id_col, vec_col, threshold, block_col="centroid_id"
    )
    losers = pairs.select(F.col("d2").alias(id_col)).distinct()
    return assigned.join(losers, id_col, "left_anti")


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Per-dimension z-score standardization — the feature-scaling pass
    before clustering/ANN when dimensions have wildly different ranges.
    Returns (id, z_embedding) with each element rounded so float
    accumulation order cannot flip values across engines.

    Scale (100 TB): posexplode fans rows ×dim, but the per-dimension
    stats aggregate reduces map-side to (pos, moments) — ``dim`` rows
    total, broadcast back. Reassembly is one id-keyed aggregate;
    ``array_sort`` on (pos, z) structs makes element order
    deterministic, never dependent on shuffle arrival. Zero-variance
    dimensions standardize to 0.0 rather than NaN."""
    ex = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select(id_col, "pos", F.col("v").cast("double").alias("val"))
    stats = ex.groupBy("pos").agg(
        F.avg("val").alias("mu"), F.stddev_pop("val").alias("sigma")
    )
    z = ex.join(F.broadcast(stats), "pos").select(
        F.col(id_col),
        F.col("pos"),
        F.when(
            F.col("sigma") > 0, (F.col("val") - F.col("mu")) / F.col("sigma")
        )
        .otherwise(0.0)
        .alias("z"),
    )
    return (
        z.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "z"))).alias("__pz"))
        .select(
            F.col(id_col),
            F.transform(
                F.col("__pz"), lambda s: round_portable(s["z"], round_digits)
            ).alias("z_embedding"),
        )
    )


def mmr_select(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    lam: float = 0.75,
    pool: int = 16,
    q_id_col: str = "q_id",
    q_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_ids: bool = False,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversification pass RAG retrievers run after ANN:
    greedily pick ``k`` documents maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)``, so each
    pick is relevant AND novel against the already-picked set.

    Batched over MANY queries at once — the scale shape: (1) one
    broadcast of the query set scores relevance and keeps each query's
    top-``pool`` candidates (TakeOrdered-style window, RAW score with
    id tie-break); (2) the pool self-joins once per query for the
    pairwise cosines (pool^2 rows per query, pool is a small constant);
    (3) ``k`` plan-level iterations (k is a constant, like the
    pagerank/kcore unrolls) each do one window argmax + one equi-join
    update of the running max-sim — every query advances in parallel,
    no driver loop over data. First pick is pure argmax relevance
    (max-sim starts undefined, not 0 — cosines can be negative).
    Returns (q_id, rank, id, rel, score); rank-1 score = lam * rel.
    """
    q = queries.select(
        F.col(q_id_col).alias("__q"), F.col(q_vec_col).alias("__qv")
    )
    scored = corpus.join(F.broadcast(q)).select(
        "__q",
        F.col(id_col).alias("__d"),
        F.col(vec_col).alias("__v"),
        cosine(F.col(vec_col), F.col("__qv")).alias("__rel"),
    )
    if exclude_query_ids:
        # querying the corpus by one of its own members: the member
        # itself (cos = 1) is not an answer
        scored = scored.filter(F.col("__d") != F.col("__q"))
    w = Window.partitionBy("__q").orderBy(F.desc("__rel"), F.asc("__d"))
    pooled = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= pool)
        .select("__q", "__d", "__v", "__rel")
    )
    a = pooled.select("__q", F.col("__d").alias("__a"), F.col("__v").alias("__va"))
    b = pooled.select("__q", F.col("__d").alias("__b"), F.col("__v").alias("__vb"))
    sims = (
        a.join(b, on="__q")
        .filter(F.col("__a") != F.col("__b"))
        .select(
            "__q", "__a", "__b",
            cosine(F.col("__va"), F.col("__vb")).alias("__s"),
        )
    )
    cands = pooled.select(
        "__q", "__d", "__rel", F.lit(None).cast("double").alias("__ms")
    )
    picks = []
    for t in range(1, k + 1):
        score = F.when(
            F.col("__ms").isNull(), F.lit(lam) * F.col("__rel")
        ).otherwise(
            F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * F.col("__ms")
        )
        wt = Window.partitionBy("__q").orderBy(
            F.desc("__score"), F.asc("__d")
        )
        ranked = cands.withColumn("__score", score).withColumn(
            "__rn", F.row_number().over(wt)
        )
        sel = ranked.filter(F.col("__rn") == 1).select(
            "__q",
            F.col("__d").alias("__sel"),
            F.col("__rel").alias("__sel_rel"),
            F.col("__score").alias("__sel_score"),
        )
        picks.append(
            sel.select(
                "__q", F.lit(t).alias("rank"), F.col("__sel").alias("__d"),
                F.col("__sel_rel").alias("rel"),
                F.col("__sel_score").alias("score"),
            )
        )
        if t < k:
            s_al = sims.alias("S")
            p_al = sel.select("__q", "__sel").alias("P")
            upd = s_al.join(
                p_al,
                on=[
                    F.col("S.__q") == F.col("P.__q"),
                    F.col("S.__b") == F.col("P.__sel"),
                ],
            )
            # rebuild candidate state: drop the pick, fold its sim into
            # the running max
            upd2 = upd.select(
                F.col("S.__q").alias("__q"),
                F.col("S.__a").alias("__d"),
                F.col("S.__s").alias("__news"),
            )
            cands = (
                cands.join(sel.select("__q", "__sel"), on="__q")
                .filter(F.col("__d") != F.col("__sel"))
                .drop("__sel")
                .join(upd2, on=["__q", "__d"], how="left")
                .select(
                    "__q", "__d", "__rel",
                    F.when(
                        F.col("__ms").isNull(), F.col("__news")
                    ).otherwise(
                        F.greatest(F.col("__ms"), F.col("__news"))
                    ).alias("__ms"),
                )
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select(
        F.col("__q").alias(q_id_col), "rank",
        F.col("__d").alias(id_col), "rel", "score",
    )
