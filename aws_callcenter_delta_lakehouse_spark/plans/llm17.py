"""Round-4 batch 5: exact set-similarity self-join via prefix
filtering (AllPairs / PPJoin family).

Completes the dedup design-space triangle the engine exposes over the
``documents`` table:

- ``dedup_ngram_jaccard``  — exact but df-capped (lossy on hot-shingle
  overlap; the cap is what bounds the pair join),
- ``dedup_minhash_lsh``    — uncapped but probabilistic (banding
  recall < 1 off the test regime),
- ``dedup_prefix_filter``  — exact AND uncapped: the rare-first prefix
  bounds the candidate join without dropping any qualifying pair.

The threshold is carried as an integer fraction (3/5) and the accept
test is integer cross-multiplication on BOTH engines, so the decision
at the exact boundary is engine-independent (CLAUDE.md trap #3/#13
discipline); the reported ``jaccard`` is a single correctly-rounded
IEEE division of two exact integers — bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel
from ..functions.scalars import round_portable
from ..operators.dedup import prefix_filter_pairs, shingle
from ..operators.materialize import cut_once
from .registry import query


@query(
    "dedup_prefix_filter",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
            FROM words),
    shingles AS (SELECT DISTINCT doc_id,
                        w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
                 FROM idx),
    sizes AS (SELECT doc_id, count(*) n FROM shingles GROUP BY doc_id),
    inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) k
              FROM shingles a
              JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT d1, d2, CAST(k AS BIGINT) AS inter_size,
           CAST(s1.n + s2.n - k AS BIGINT) AS union_size,
           CAST(k AS DOUBLE) / CAST(s1.n + s2.n - k AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE 5 * k >= 3 * (s1.n + s2.n - k)
    """,
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram-shingle Jaccard >= 3/5 via prefix
    filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08): each doc
    joins only on its |x| - ceil(0.6|x|) + 1 globally-rarest shingles,
    candidates verified with an exact ``array_intersect``. The oracle
    is the brute-force all-pairs join — feasible at sf0.01, which is
    exactly why the prefix variant exists for the 100 TB path."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    sh = shingle(docs, "doc_id", "text", n=3, distinct=True)
    return prefix_filter_pairs(sh, "doc_id", threshold_num=3, threshold_den=5)


@query(
    "similarity_ivfpq_adc",
    oracle="""
    WITH normed AS MATERIALIZED (
        SELECT vec_id,
               CASE WHEN nrm > 0
                    THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
                    ELSE list_transform(embedding, x -> 0.0) END AS v
        FROM (SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
              FROM embeddings)
    ),
    ss AS MATERIALIZED (SELECT unnest(range(16)) AS s),
    cn AS MATERIALIZED (
        SELECT vec_id AS centroid_id,
               list_transform(v, x -> x / nrm2) AS cv2
        FROM (SELECT vec_id, v,
                     sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm2
              FROM normed ORDER BY vec_id LIMIT 16)
    ),
    ca AS MATERIALIZED (
        SELECT centroid_id, list_transform(cv2, x -> x / nrm3) AS cv3
        FROM (SELECT centroid_id, cv2,
                     sqrt(list_sum(list_transform(cv2, x -> x * x))) AS nrm3
              FROM cn)
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, v, centroid_id FROM (
            SELECT n.vec_id, n.v, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY -(list_sum(list_transform(range(1, 65),
                           i -> n.v[CAST(i AS INT)]
                                * c.cv3[CAST(i AS INT)]))) ASC,
                                c.centroid_id ASC) AS rn
            FROM normed n, ca c)
        WHERE rn = 1
    ),
    resid AS MATERIALIZED (
        SELECT a.vec_id, a.centroid_id,
               list_transform(range(1, 65),
                   i -> a.v[CAST(i AS INT)] - c.cv2[CAST(i AS INT)]) AS res
        FROM assign a JOIN cn c USING (centroid_id)
    ),
    seeds AS MATERIALIZED (
        SELECT res, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j
        FROM (SELECT vec_id, res FROM resid ORDER BY vec_id LIMIT 16)
    ),
    cbh AS MATERIALIZED (
        SELECT ss.s, seeds.j,
               list_slice(res, ss.s * 4 + 1, ss.s * 4 + 4) AS cvec,
               list_sum(list_transform(
                   list_slice(res, ss.s * 4 + 1, ss.s * 4 + 4), c -> c * c
               )) / 2.0 AS halfsq
        FROM seeds, ss
    ),
    subs AS MATERIALIZED (
        SELECT vec_id, centroid_id, ss.s,
               list_slice(res, ss.s * 4 + 1, ss.s * 4 + 4) AS sub
        FROM resid, ss
    ),
    enc AS MATERIALIZED (
        SELECT vec_id, centroid_id, s, j AS code FROM (
            SELECT su.vec_id, su.centroid_id, su.s, c.j,
                   ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.s
                       ORDER BY c.halfsq - list_sum(list_transform(range(1, 5),
                           i -> su.sub[CAST(i AS INT)]
                                * c.cvec[CAST(i AS INT)])) ASC,
                                c.j ASC) AS rn
            FROM subs su JOIN cbh c ON su.s = c.s)
        WHERE rn = 1
    ),
    qs AS MATERIALIZED (
        SELECT vec_id AS q_id, embedding AS q_vec
        FROM embeddings WHERE vec_id < 5
    ),
    probes AS MATERIALIZED (
        SELECT q_id, centroid_id FROM (
            SELECT q.q_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id
                       ORDER BY -(list_sum(list_transform(range(1, 65),
                           i -> CAST(q.q_vec[CAST(i AS INT)] AS DOUBLE)
                                * c.cv3[CAST(i AS INT)]))) ASC,
                                c.centroid_id ASC) AS rn
            FROM qs q, ca c)
        WHERE rn <= 4
    ),
    pb AS MATERIALIZED (
        SELECT p.q_id, p.centroid_id,
               list_sum(list_transform(range(1, 65),
                   i -> CAST(q.q_vec[CAST(i AS INT)] AS DOUBLE)
                        * c.cv2[CAST(i AS INT)])) AS base,
               list_transform(range(1, 65),
                   i -> CAST(q.q_vec[CAST(i AS INT)] AS DOUBLE)
                        - c.cv2[CAST(i AS INT)]) AS qr
        FROM probes p JOIN qs q USING (q_id) JOIN cn c USING (centroid_id)
    ),
    lutv AS MATERIALIZED (
        SELECT pb.q_id, pb.centroid_id, pb.base, cb.s, cb.j,
               list_sum(list_transform(range(1, 5),
                   i -> list_slice(pb.qr, cb.s * 4 + 1,
                                   cb.s * 4 + 4)[CAST(i AS INT)]
                        * cb.cvec[CAST(i AS INT)])) AS val
        FROM pb, cbh cb
    ),
    scored AS (
        SELECT l.q_id, e.vec_id,
               MIN(l.base) + list_sum(list(l.val ORDER BY l.s)) AS adc_score
        FROM enc e JOIN lutv l ON l.centroid_id = e.centroid_id
                               AND l.s = e.s AND l.j = e.code
        GROUP BY l.q_id, e.vec_id
    )
    SELECT q_id, vec_id, floor(adc_score * 1e6 + 0.5) / 1e6 AS adc_score
    FROM (SELECT q_id, vec_id, adc_score,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY adc_score DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
)
def similarity_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (FAISS ``IVF16,PQ16``-style) top-10 for queries vec_id<5:
    coarse IVF restricts each query to nprobe=4 of 16 cells, residual
    v̂−ĉ product quantization ranks within cells from 16 one-byte codes,
    score = exact dot(q, ĉ) + residual ADC LUT sum. The billion-scale
    composition of the engine's two ANN halves — corpus never shuffles;
    the per-(query, probe) LUT table broadcasts onto the encoded codes.
    Recall and exact self-retrieval pinned vs ``brute_force_topk`` in
    ``tests/test_pq.py`` (residual PQ shows no gain over raw PQ on this
    UNSTRUCTURED synthetic corpus — the residual advantage needs real
    cluster structure; the registered config documents the honest
    trade).

    ORACLE-CHECKED since r6 (was rows-only): with the default
    ``iterations=0``/``refine_iterations=0`` the IVF centroids are the
    16 lowest-id vectors and the residual codebook seeds from the 16
    lowest-id residuals — no Lloyd trajectory anywhere, so the oracle
    replays the whole composition as deterministic algebra. FP shape
    mirrored exactly: centroids re-normalized ONCE for the residual/
    base side (cv2) and AGAIN inside the assignment fold (cv3 — the
    engine's ``_centroid_array`` normalizes its input), argmin/argmax
    tie-breaks on centroid/code id, s-ordered ADC sum added to the
    exact base term. Selection on the RAW score; emitted score rounded
    at 1e-6 on both sides."""
    from ..operators.pq import ivfpq_topk

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = ivfpq_topk(
        emb, queries, num_centroids=16, nprobe=4, m=16, num_codes=16, k=10
    )
    return top.select(
        "q_id", "vec_id", round_portable(F.col("adc_score"), 6).alias("adc_score")
    )


@query(
    "sketch_kmv_segment_overlap",
    oracle="""
    WITH h AS (SELECT DISTINCT event_type,
          CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
               AS BIGINT) AS h
        FROM events),
    r AS (SELECT event_type, h,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS d
          FROM h),
    sk AS MATERIALIZED (SELECT event_type, h, rn, LEAST(d, 256) AS n_seen
          FROM r WHERE rn <= 256),
    th AS (SELECT event_type, MAX(n_seen) AS n_seen,
            CASE WHEN MAX(n_seen) >= 256
              THEN (MAX(CASE WHEN rn = 256 THEN h END) + 1.0)
                   / 1152921504606846976.0
              ELSE 1.0 END AS theta
          FROM sk GROUP BY event_type),
    pairs AS (SELECT a.event_type AS g1, b.event_type AS g2,
                LEAST(a.theta, b.theta) AS theta
              FROM th a JOIN th b ON a.event_type < b.event_type),
    cut AS (SELECT p.g1, p.g2, p.theta, sk.event_type, sk.h
            FROM sk JOIN pairs p ON sk.event_type IN (p.g1, p.g2)
            WHERE (sk.h + 1.0) / 1152921504606846976.0 <= p.theta),
    byhash AS (SELECT g1, g2, theta, h,
                 COUNT(DISTINCT event_type) AS sides
               FROM cut GROUP BY 1, 2, 3, 4),
    fin AS (SELECT g1, g2, theta,
              CAST(COUNT(*) AS DOUBLE) AS uni,
              CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS DOUBLE)
                AS inter
            FROM byhash GROUP BY 1, 2, 3)
    SELECT g1, g2,
           floor(inter / theta * 1e4 + 0.5) / 1e4 AS est_intersection,
           floor(uni / theta * 1e4 + 0.5) / 1e4 AS est_union,
           floor(CASE WHEN uni > 0 THEN inter / uni ELSE 0.0 END
                 * 1e4 + 0.5) / 1e4 AS est_jaccard
    FROM fin
    """,
)
def sketch_kmv_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix from KMV theta sketches: one pass builds
    a 256-minimum-values sketch of the distinct user set per
    event_type, then every pairwise intersection/union/Jaccard
    estimate is computed from the k-long summaries alone — the segment
    question HLL can't answer without a sketch per pair. Error bounds
    and partial-fill exactness pinned in ``tests/test_sketch.py``.

    ORACLE-CHECKED now (was rows-only through r4): with the PORTABLE
    seeded-md5 hash the whole theta-sketch algebra — k-th-minimum
    quantile, shared-theta cut, sample intersection/union — is exact
    arithmetic DuckDB replays verbatim. xxhash64 stays the default
    fast path."""
    from ..operators.sketch import kmv_overlap_pairs, kmv_sketch

    events = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(events, "user_id", ["event_type"], k=256, portable=True)
    out = kmv_overlap_pairs(sk, "event_type", k=256, portable=True)
    return out.select(
        "g1",
        "g2",
        round_portable(F.col("est_intersection"), 4).alias("est_intersection"),
        round_portable(F.col("est_union"), 4).alias("est_union"),
        round_portable(F.col("est_jaccard"), 4).alias("est_jaccard"),
    )


@query(
    "similarity_hard_negatives",
    oracle="""
    WITH a AS (SELECT vec_id AS a_id, embedding AS av, label AS al
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT a.a_id, e.vec_id,
             floor(
               list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.av[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(a.av[i] AS DOUBLE) * CAST(a.av[i] AS DOUBLE)))))
               * 10000 + 0.5) / 10000 AS sim
      FROM embeddings e, a
      WHERE e.label <> a.al),
    ranked AS (
      SELECT a_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY a_id
                                ORDER BY sim DESC, vec_id) AS rn
      FROM scored)
    SELECT a_id, vec_id, sim, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 5
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id < 5), the 5 most-cosine-similar vectors whose ``label``
    DIFFERS — the highest-loss negatives a contrastive objective
    (InfoNCE / triplet) wants in-batch. Exact brute-force variant
    (oracle-checked); at corpus scale the candidate generation step
    swaps to the ANN index (``ann_topk``/``ivfpq_topk``) with the same
    label-exclusion filter, which is why the filter sits in the scoring
    projection, not a pre-partition.

    Scale shape: anchors broadcast (tiny), scoring is one corpus
    projection, per-anchor top-k is a 5-partition window over scored
    rows only."""
    from ..operators.similarity import cosine
    from pyspark.sql import Window

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("__av"),
        F.col("label").alias("__al"),
    )
    scored = (
        emb.join(F.broadcast(anchors))
        .filter(F.col("label") != F.col("__al"))
        .select(
            "a_id",
            "vec_id",
            round_portable(cosine(F.col("embedding"), F.col("__av")), 4).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
    )


@query(
    "sketch_kmv_rolling_users",
    oracle="""
    WITH ev AS (SELECT DISTINCT event_type,
          CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
               AS BIGINT) AS h,
          date_diff('day', DATE '2024-01-01',
                    CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dayn
        FROM events),
    spine AS (SELECT DISTINCT dayn AS wend FROM ev),
    win AS (SELECT DISTINCT e.event_type, s.wend, e.h
            FROM ev e JOIN spine s
              ON e.dayn BETWEEN s.wend - 6 AND s.wend),
    r AS (SELECT event_type, wend, h,
            ROW_NUMBER() OVER (PARTITION BY event_type, wend
                               ORDER BY h) AS rn,
            COUNT(*) OVER (PARTITION BY event_type, wend) AS d
          FROM win),
    sk AS (SELECT event_type, wend, LEAST(MAX(d), 256) AS n_seen,
             MAX(CASE WHEN rn = 256 THEN h END) AS h256
           FROM r WHERE rn <= 256 GROUP BY 1, 2)
    SELECT event_type, CAST(wend AS BIGINT) AS wend,
           floor(CASE WHEN n_seen >= 256
                 THEN 255 / ((h256 + 1.0) / 1152921504606846976.0)
                 ELSE CAST(n_seen AS DOUBLE) END * 1e4 + 0.5) / 1e4
             AS est_users_7d
    FROM sk
    """,
)
def sketch_kmv_rolling_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per event type from MERGED daily
    KMV sketches: one pass builds a 256-value sketch per (type, day);
    every rolling window then unions 7 sketches (explode + bounded
    re-top-k) — raw data is never re-read, which is the operational
    win over ``events_rolling_distinct_users``'s exact fan-out at
    100 TB (daily sketches persist; any window, month, or ad-hoc
    grouping is summary-only work afterwards). Mergeability is exact
    (the k smallest of a union are a subset of the per-part k
    smallest); estimate accuracy vs the exact rolling query is pinned
    in ``tests/test_sketch.py``.

    ORACLE-CHECKED now (was rows-only through r4): mergeability is
    EXACT (the k smallest of a union of per-part k-smallest equal the
    k smallest of the raw union), so the oracle recomputes each window
    from raw rows with the same portable seeded-md5 hash and must land
    on the identical estimate."""
    from ..operators.sketch import kmv_estimate, kmv_merge, kmv_sketch

    # cut once: ev feeds the daily sketch build AND the day spine —
    # uncut, the events scan ran twice (r13 opt)
    ev = cut_once(load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("dayn"),
    ))
    daily = kmv_sketch(ev, "user_id", ["event_type", "dayn"], k=256, portable=True)
    spine = ev.select("dayn").distinct().withColumnRenamed("dayn", "wend")
    contrib = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("dayn"), F.col("dayn") + F.lit(6))
        ).alias("wend"),
        "kmv",
        "n_seen",
    ).join(spine, on="wend", how="left_semi")
    merged = kmv_merge(contrib, ["event_type", "wend"], k=256)
    return kmv_estimate(merged, k=256, portable=True).select(
        "event_type",
        F.col("wend").cast("bigint").alias("wend"),
        round_portable(F.col("est_distinct"), 4).alias("est_users_7d"),
    )
