"""Twenty-first LLM-pipeline batch (round 8): near-duplicate benchmark
decontamination.

``decontaminate_benchmark_overlap`` (llm-batch 13) catches EXACT n-gram
leakage; paraphrased or lightly-edited eval material slips straight
through it. This batch adds the fuzzy sibling every serious
training-data pipeline runs before training: MinHash-LSH candidate
blocking between the corpus and the benchmark set (never an all-pairs
join), exact-Jaccard verification of the candidates, and a per-document
contamination score.

Portable-hash pattern (r5): signatures on the low-60-bit md5 hash so
the DuckDB oracle replays the ENTIRE pipeline — banding included — not
just the verified output. xxhash64 stays the production default in
``operators/dedup.py``; this query pins the portable mode.

Capability extension over the reference's analytics surface; no
counterpart to port — cited for scope, not code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table_parallel
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from .registry import query

_N_HASHES = 16
_BANDS = 4
_ROWS = 4


def _pmd5(col):
    """Low 60 bits of md5 as BIGINT — the cross-engine portable hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


@query(
    "decontaminate_near_dup",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
            FROM words),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM idx),
    sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
    base AS (SELECT doc_id,
                    CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS b
             FROM sh),
    hv AS (SELECT doc_id, t.i AS i,
                  CAST('0x' || substr(md5(CAST(b AS VARCHAR) || '#' ||
                       CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM base, range(0, 16) t(i)),
    mins AS (SELECT doc_id, i, min(h) AS m FROM hv GROUP BY 1, 2),
    minsb AS (SELECT doc_id, i, i // 4 AS band, m FROM mins),
    bkts AS MATERIALIZED (
        SELECT doc_id,
               CAST(band AS VARCHAR) || ',' ||
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bkt
        FROM minsb GROUP BY doc_id, band),
    cands AS MATERIALIZED (
        SELECT DISTINCT least(c.doc_id, b.doc_id) AS d1,
                        greatest(c.doc_id, b.doc_id) AS d2
        FROM bkts c JOIN bkts b ON c.bkt = b.bkt
        WHERE c.doc_id % 17 <> 0 AND b.doc_id % 17 = 0),
    inter AS (SELECT d1, d2, count(*) k
              FROM cands
              JOIN sh a ON a.doc_id = d1
              JOIN sh b2 ON b2.doc_id = d2 AND b2.sh = a.sh
              GROUP BY 1, 2),
    scored AS (SELECT d1, d2, k * 1.0 / (s1.n + s2.n - k) AS j
               FROM inter
               JOIN sizes s1 ON d1 = s1.doc_id
               JOIN sizes s2 ON d2 = s2.doc_id),
    flagged AS (SELECT CASE WHEN d1 % 17 = 0 THEN d2 ELSE d1 END AS doc_id, j
                FROM scored WHERE j >= 0.5)
    SELECT doc_id, floor(max(j) * 10000 + 0.5) / 10000 AS near_jaccard
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def decontaminate_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: flag every training
    document whose text is a near-duplicate (exact word-3-gram Jaccard
    >= 0.5) of any benchmark document (here the deterministic 1/17
    doc_id slice standing in for an eval suite). Candidates come from
    MinHash-LSH banding (16 portable-md5 hashes, 4 bands x 4 rows) with
    the bucket join restricted to CORPUS x BENCH — never corpus
    self-pairs, never all-pairs; exact Jaccard on the candidates kills
    the LSH false positives. Output: (doc_id, near_jaccard) of the
    contaminated training docs — the rows a curation pipeline drops
    before training.

    Scale shape: one shingle pass feeds signatures AND verification
    (checkpointed); the bench side of the bucket join is the small
    side; verify work is bounded by candidate pairs (shingles are
    semi-join-pruned to candidate docs first). At 100 TB the bench
    buckets broadcast and hot buckets would be df-capped — the same
    discipline as ``dedup_minhash_lsh``."""
    from ..operators.dedup import jaccard_pairs, shingle

    docs = load_table_parallel(spark, sf_dir, "documents")
    sh = cut_once(shingle(docs, "doc_id", "text", n=3, distinct=True))
    base = sh.select("doc_id", _pmd5(F.col("sh")).alias("b"))
    bstr = base.select("doc_id", F.col("b").cast("string").alias("bs"))
    hashed = bstr.select(
        "doc_id",
        *[
            _pmd5(F.concat(F.col("bs"), F.lit(f"#{i}"))).alias(f"h{i}")
            for i in range(_N_HASHES)
        ],
    )
    sigs = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(_N_HASHES)]
    )
    band_keys = F.array(
        *[
            F.concat_ws(
                ",",
                F.lit(str(b)),
                *[
                    F.col(f"m{b * _ROWS + r}").cast("string")
                    for r in range(_ROWS)
                ],
            )
            for b in range(_BANDS)
        ]
    )
    # cut the 16x(md5+conv) signature pipeline once: the corpus/bench
    # split below consumes the same subtree twice (r13 opt)
    buckets = cut_once(sigs.select(
        "doc_id", F.explode(band_keys).alias("bkt")
    ))
    is_bench = F.col("doc_id") % 17 == 0
    corpus_bk = buckets.filter(~is_bench).select(
        F.col("doc_id").alias("cid"), "bkt"
    )
    bench_bk = buckets.filter(is_bench).select(
        F.col("doc_id").alias("bid"), "bkt"
    )
    cands = (
        corpus_bk.join(bench_bk, "bkt")
        .select(
            F.least("cid", "bid").alias("d1"),
            F.greatest("cid", "bid").alias("d2"),
        )
        .distinct()
    )
    verified = jaccard_pairs(sh, "doc_id", candidates=cands, threshold=0.5)
    flagged = verified.select(
        F.when(F.col("d1") % 17 == 0, F.col("d2"))
        .otherwise(F.col("d1"))
        .alias("doc_id"),
        "jaccard",
    )
    return (
        flagged.groupBy("doc_id")
        .agg(round_portable(F.max("jaccard"), 4).alias("near_jaccard"))
        .orderBy("doc_id")
    )


@query(
    "decontaminate_embedding_cosine",
    oracle="""
    WITH pairs AS (
      SELECT c.vec_id AS doc_id,
             floor(list_cosine_similarity(c.embedding, b.embedding)
                   * 1e4 + 0.5) / 1e4 AS cos
      FROM embeddings c JOIN embeddings b
        ON c.label = b.label
       AND c.vec_id % 17 <> 0 AND b.vec_id % 17 = 0)
    SELECT doc_id, max(cos) AS near_cos,
           CAST(COUNT(*) AS BIGINT) AS n_bench_hits
    FROM pairs WHERE cos >= 0.3 GROUP BY doc_id ORDER BY doc_id
    """,
)
def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the vector-space sibling of
    ``decontaminate_near_dup``: flag corpus embeddings whose cosine to
    any benchmark embedding (the 1/17 slice) reaches the threshold,
    catching rephrasings that share no n-grams at all. Blocked on the
    precomputed cluster id (``label`` — an IVF cell in production), so
    the corpus x bench join is per-block, never all-pairs; the bench
    side of each block is small and broadcast-joined. Output:
    (doc_id, max cosine, #benchmark hits) — the semantic-leak report a
    curation pipeline reviews before training."""
    from ..operators.similarity import cosine

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 17 == 0).select(
        "label", F.col("embedding").alias("bvec")
    )
    corpus = emb.filter(F.col("vec_id") % 17 != 0).select(
        F.col("vec_id").alias("doc_id"), "label", "embedding"
    )
    scored = corpus.join(F.broadcast(bench), "label").select(
        "doc_id",
        round_portable(cosine(F.col("embedding"), F.col("bvec")), 4).alias(
            "cos"
        ),
    )
    return (
        scored.filter(F.col("cos") >= 0.3)
        .groupBy("doc_id")
        .agg(
            F.max("cos").alias("near_cos"),
            F.count("*").alias("n_bench_hits"),
        )
        .orderBy("doc_id")
    )
