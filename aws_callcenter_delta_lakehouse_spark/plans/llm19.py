"""Nineteenth LLM-pipeline batch (round 6): index-quality evaluation
and cross-source governance.

- similarity_recall_eval — ANN quality measurement AS A QUERY:
  recall@5 of the IVF index (nprobe=4) against the exact brute-force
  ranking, per query. An index you cannot measure at corpus scale is
  an index you cannot operate; this runs both rankings distributedly
  and reduces to one number per query. Fully deterministic (seeded
  centroids, rounded cosines, id tie-breaks), so the oracle replays
  BOTH pipelines and diffs the recall itself.
- corpus_cross_source_overlap — pairwise 3-gram Jaccard between
  sources: the mixture-design / cross-contamination signal (how much
  of src2 is already in src1?). Shuffle is (source, gram) pairs and
  per-gram source combinations — never doc×doc.

Capability extensions over the reference's analytics surface
(`athena_queries.sql` stops at SQL aggregates); no counterpart to
port — cited for scope, not code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table_parallel
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from .registry import query

_COS64 = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(range(1, 65),"
    "      i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    "  * sqrt(list_sum(list_transform(range(1, 65),"
    "      i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"
)


@query(
    "similarity_recall_eval",
    oracle=f"""
    WITH c AS (SELECT vec_id AS centroid_id, embedding AS cvec
               FROM embeddings ORDER BY vec_id LIMIT 16),
    cn AS MATERIALIZED (SELECT centroid_id,
                  list_transform(cvec, x -> CAST(x AS DOUBLE) /
                    sqrt(list_sum(list_transform(cvec,
                         y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS cv
           FROM c),
    q AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 5),
    assigned AS MATERIALIZED (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, cn.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY -list_sum(list_transform(range(1, 65),
                            i -> CAST(e.embedding[i] AS DOUBLE) * cn.cv[i])),
                          cn.centroid_id) AS arn
        FROM embeddings e, cn) WHERE arn = 1),
    probes AS (
      SELECT q.q_id, q.q_vec, cn.centroid_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY -list_sum(list_transform(range(1, 65),
                          i -> CAST(q.q_vec[i] AS DOUBLE) * cn.cv[i])),
                        cn.centroid_id) AS rn
      FROM q, cn),
    cand AS (
      SELECT p.q_id, a.vec_id,
             floor(({_COS64.format(a="p.q_vec", b="a.embedding")})
                   * 1e4 + 0.5) / 1e4 AS sim
      FROM (SELECT * FROM probes WHERE rn <= 4) p
      JOIN assigned a USING (centroid_id)),
    ivf AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rk
        FROM cand) WHERE rk <= 5),
    bf AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY floor(({_COS64.format(a="q.q_vec", b="e.embedding")})
                                * 1e4 + 0.5) / 1e4 DESC, e.vec_id) AS rk
        FROM q, embeddings e) WHERE rk <= 5),
    hits AS (SELECT q_id, COUNT(*) AS h
             FROM ivf JOIN bf USING (q_id, vec_id) GROUP BY q_id)
    SELECT q.q_id, CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0 AS recall_at_5
    FROM q LEFT JOIN hits h USING (q_id)
    ORDER BY q_id
    """,
)
def similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index (16 seeded centroids, nprobe=4)
    against the exact brute-force cosine ranking, per query (vec_id<5)
    — the index-quality eval harness AS a registry query.

    Scale shape: the approximate side is the pinned zero-shuffle IVF
    plan; the exact side broadcasts the |queries| rows onto the corpus
    (one projection + per-query top-k window over |queries| x |corpus|
    scored rows — the eval you run on a SAMPLE of queries, which is
    exactly what the vec_id<5 predicate models). Both rankings are
    deterministic (seeded centroids, 1e-4-rounded cosines, id
    tie-breaks), so recall itself is oracle-diffed."""
    from ..operators.similarity import cosine, ivf_topk

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    approx = ivf_topk(emb, queries, num_centroids=16, nprobe=4, k=5).select(
        "q_id", "vec_id"
    )
    scored = emb.join(F.broadcast(queries)).select(
        "q_id",
        "vec_id",
        round_portable(cosine(F.col("q_vec"), F.col("embedding")), 4).alias(
            "sim"
        ),
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    exact = (
        scored.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= 5)
        .select("q_id", "vec_id")
    )
    hits = approx.join(exact, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("__h")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            (
                F.coalesce(F.col("__h"), F.lit(0)).cast("double") / F.lit(5.0)
            ).alias("recall_at_5"),
        )
        .orderBy("q_id")
    )


@query(
    "corpus_cross_source_overlap",
    oracle="""
    WITH words AS (SELECT source, string_split(text, ' ') w FROM documents),
    idx AS (SELECT source, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
            FROM words),
    sh AS MATERIALIZED (
        SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM idx),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
    inter AS (SELECT a.source AS s1, b.source AS s2, count(*) AS k
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
              GROUP BY 1, 2)
    SELECT s1, s2, CAST(k AS BIGINT) AS inter_size,
           CAST(n1.n + n2.n - k AS BIGINT) AS union_size,
           CAST(k AS DOUBLE) / CAST(n1.n + n2.n - k AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes n1 ON s1 = n1.source
    JOIN sizes n2 ON s2 = n2.source
    ORDER BY s1, s2
    """,
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram-shingle Jaccard BETWEEN SOURCES — the
    mixture-design and cross-source-contamination signal (a source
    that heavily overlaps another adds tokens but not information, and
    double-counts whatever both crawled).

    Scale shape: the corpus collapses to DISTINCT (source, gram) rows
    in one aggregate; the pair count is a gram-keyed self-join whose
    fan-out per gram is bounded by #sources (4 here) — candidate work
    is ~sources^2 x |distinct grams|, linear in the corpus and
    independent of document count. No doc-level pairs exist anywhere
    in the plan."""
    from ..operators.dedup import shingle

    docs = load_table_parallel(spark, sf_dir, "documents")
    # cut once: sh feeds sizes + both pair-join sides (3 refs — r13 opt)
    sh = cut_once(shingle(docs, "source", "text", n=3, distinct=True))
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.select(F.col("source").alias("s1"), "sh")
    b = sh.select(F.col("source").alias("s2"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("k"))
    )
    n1 = sizes.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(n1), "s1")
        .join(F.broadcast(n2), "s2")
        .select(
            "s1",
            "s2",
            F.col("k").cast("bigint").alias("inter_size"),
            (F.col("n1") + F.col("n2") - F.col("k"))
            .cast("bigint")
            .alias("union_size"),
            (
                F.col("k").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("k")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )
