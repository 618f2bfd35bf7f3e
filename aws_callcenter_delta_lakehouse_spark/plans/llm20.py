"""Twentieth LLM-pipeline batch (round 6): dedup-index quality and
budgeted mixture construction.

- dedup_lsh_recall_eval — the near-dup counterpart of
  ``similarity_recall_eval``: measured recall of MinHash-LSH banding
  (16 portable hashes, 4 bands x 4 rows) against the exact df-blocked
  Jaccard truth at 0.5. A dedup index you cannot measure at corpus
  scale silently decays as the corpus shifts; this runs the banding
  and the truth distributedly and reduces to one governance row.
  Portable-hash pattern (round-5): minhash built on low-60-bit md5 on
  BOTH engines, so the oracle replays the banding itself — not just
  the verified output.
- curation_token_budget_select — greedy per-source selection under a
  TOKEN budget (longest-doc-first): the mixture-construction step
  where each source contributes at most N tokens, not N documents
  (``curation_source_cap`` is the count-capped sibling). One shuffle
  on source; a running-sum window per source; budget cut at 20k.

Capability extensions over the reference's analytics surface
(`athena_queries.sql` stops at SQL aggregates); no counterpart to
port — cited for scope, not code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, load_table_parallel
from ..operators.materialize import cut_once
from .registry import query

_N_HASHES = 16
_BANDS = 4
_ROWS = 4


def _pmd5(col):
    """Low 60 bits of md5 as BIGINT — the cross-engine portable hash
    (DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


@query(
    "dedup_lsh_recall_eval",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
            FROM words),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM idx),
    sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
    hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 10),
    kept AS (SELECT * FROM sh s
             WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.sh = s.sh)),
    inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) k
              FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    truth AS MATERIALIZED (
        SELECT d1, d2
        FROM inter JOIN sizes s1 ON d1 = s1.doc_id
                   JOIN sizes s2 ON d2 = s2.doc_id
        WHERE k * 1.0 / (s1.n + s2.n - k) >= 0.5),
    base AS (SELECT doc_id,
                    CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS b
             FROM sh),
    hv AS (SELECT doc_id, t.i AS i,
                  CAST('0x' || substr(md5(CAST(b AS VARCHAR) || '#' ||
                       CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM base, range(0, 16) t(i)),
    mins AS (SELECT doc_id, i, min(h) AS m FROM hv GROUP BY 1, 2),
    minsb AS (SELECT doc_id, i, i // 4 AS band, m FROM mins),
    bkts AS (SELECT doc_id,
                    CAST(band AS VARCHAR) || ',' ||
                    string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bkt
             FROM minsb GROUP BY doc_id, band),
    cands AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bkts a JOIN bkts b ON a.bkt = b.bkt AND a.doc_id < b.doc_id),
    hits AS (SELECT count(*) AS n FROM cands JOIN truth USING (d1, d2)),
    nt AS (SELECT count(*) AS n FROM truth),
    nc AS (SELECT count(*) AS n FROM cands)
    SELECT CAST(nt.n AS BIGINT) AS n_true,
           CAST(nc.n AS BIGINT) AS n_candidates,
           CAST(hits.n AS BIGINT) AS n_hits,
           CASE WHEN nt.n = 0 THEN 0.0
                ELSE floor(hits.n * 1.0 / nt.n * 10000 + 0.5) / 10000
           END AS recall
    FROM nt, nc, hits
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of MinHash-LSH banding against exact Jaccard
    truth — the dedup-index quality eval AS a registry query.

    Truth: df-blocked all-pairs Jaccard >= 0.5 (the
    ``dedup_ngram_jaccard`` formulation — hot shingles in > 10 docs are
    blocked from the pair join, sizes stay exact). Index: 16 minhashes
    on the portable md5 hash, 4 bands x 4 rows, candidates = docs
    sharing any band key. Output is ONE row: |truth|, |candidates|,
    |hits|, recall — the number an operator alerts on.

    Scale shape: one shingle pass feeds both sides (checkpointed);
    banding shuffles (doc, band-key) rows and pairs only within
    buckets; truth is the df-capped pair join — no all-pairs anywhere.
    The 16x(md5+conv) signature per distinct shingle is pure JVM
    codegen."""
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
    # cut the 16x(md5+conv) signature pipeline once: the bucket
    # self-join consumes the same subtree on both sides (r13 opt —
    # unmaterialized, it executed twice)
    buckets = cut_once(sigs.select(
        "doc_id", F.explode(band_keys).alias("bkt")
    ))
    left = buckets.select(F.col("doc_id").alias("d1"), "bkt")
    right = buckets.select(F.col("doc_id").alias("d2"), "bkt")
    # cands / truth each feed two consumers below (the hits join + their
    # own count) — materialize so neither pipeline re-executes
    cands = cut_once(
        left.join(right, "bkt")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    truth = cut_once(
        jaccard_pairs(
            sh, "doc_id", candidates=None, threshold=0.5, max_shingle_df=10
        )
        .select("d1", "d2")
    )
    hits = cands.join(truth, ["d1", "d2"])
    nt = truth.agg(F.count("*").alias("n_true"))
    nc = cands.agg(F.count("*").alias("n_candidates"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    joined = nt.join(F.broadcast(nc)).join(F.broadcast(nh))
    recall_raw = (
        F.col("n_hits").cast("double") / F.col("n_true").cast("double")
    )
    return joined.select(
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.when(F.col("n_true") == 0, F.lit(0.0))
        .otherwise(
            F.floor(recall_raw * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
        )
        .alias("recall"),
    )


@query(
    "curation_token_budget_select",
    oracle="""
    WITH toks AS (SELECT source, doc_id, n_chars,
                         len(string_split(text, ' ')) AS tok
                  FROM documents),
    ranked AS (SELECT source, doc_id, tok,
                      sum(tok) OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum_tok
               FROM toks)
    SELECT source, doc_id, CAST(tok AS BIGINT) AS tok,
           CAST(cum_tok AS BIGINT) AS cum_tok
    FROM ranked WHERE cum_tok <= 20000
    ORDER BY source, cum_tok, doc_id
    """,
)
def curation_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source document selection under a 20k-TOKEN budget,
    longest-doc-first — mixture construction where sources contribute
    bounded TOKENS (what the trainer spends), not bounded documents.

    Scale shape: one hash shuffle on source, then a running-sum window
    inside each source partition (sources are few and independent —
    partition-parallel, no global sort); the budget predicate prunes
    before the final order. At 100 TB the per-source sort is the only
    real cost, and it is exactly the sort a pack/shard export needs
    anyway."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = toks.withColumn("cum_tok", F.sum("tok").over(w))
    return (
        ranked.filter(F.col("cum_tok") <= 20000)
        .select(
            "source",
            "doc_id",
            F.col("tok").cast("bigint").alias("tok"),
            F.col("cum_tok").cast("bigint").alias("cum_tok"),
        )
        .orderBy("source", "cum_tok", "doc_id")
    )


@query(
    "streaming_cdc_tail",
    oracle="""
    WITH del AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
             'delete' AS _change_type, 1 AS _commit_version
      FROM customer WHERE c_custkey % 10 = 0),
    survivors AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
    hit AS (SELECT * FROM survivors
            WHERE c_mktsegment = 'BUILDING' AND c_custkey % 7 = 3),
    pre AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
             'update_preimage' AS _change_type, 2 AS _commit_version
      FROM hit),
    post AS (
      SELECT c_custkey, c_name, CAST(0.0 AS DOUBLE) AS c_acctbal,
             c_mktsegment,
             'update_postimage' AS _change_type, 2 AS _commit_version
      FROM hit)
    SELECT * FROM (
      SELECT * FROM del UNION ALL SELECT * FROM pre
      UNION ALL SELECT * FROM post)
    ORDER BY c_custkey, _change_type
    """,
)
def streaming_cdc_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage protocol's change data feed DRIVEN END TO END as a
    query: build a CDF-enabled managed table from `customer`, commit a
    deletion-vector DELETE (v1) and an UPDATE (v2), then tail versions
    (0, 2] through the streaming Python Data Source
    (`table_changes_stream`, the Delta readChangeFeed analogue) into a
    memory sink. The DMLs are deterministic predicates, so the exact
    change rows — delete records plus update pre/post images tagged
    with their commit versions — are replayable as pure SQL over the
    source parquet: the oracle checks the recorded feed itself.

    Scale shape: commit cost is the DML cost (the DV delete rewrites
    nothing); the stream plans one input partition per change-sidecar
    file and reads O(changes) — the whole point of CDF vs snapshot
    diffing. Scratch table under a per-run temp dir."""
    import tempfile

    from ..sources import managed_table as mt
    from ..sources.pydatasource import make_table_changes_stream_source

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="cdc_tail_") + "/t"
    mt.commit_overwrite(base, path, keys=("c_custkey",))
    # enable AFTER the initial load (ALTER TABLE SET TBLPROPERTIES):
    # v0 gets no insert-backfill sidecar — the stream starts at v1,
    # so recording the full initial corpus would be pure write cost
    mt.set_table_property(path, "enableChangeDataFeed", True)
    mt.delete_where(
        spark, path, "c_custkey % 10 = 0", deletion_vectors=True
    )
    mt.update_where(
        spark, path,
        "c_mktsegment = 'BUILDING' AND c_custkey % 7 = 3",
        {"c_acctbal": F.lit(0.0)},
    )
    spark.dataSource.register(make_table_changes_stream_source())
    stream = (
        spark.readStream.format("table_changes_stream")
        .option("path", path)
        .option("startingversion", 1)
        .load()
    )
    import uuid as _uuid

    sink = f"cdc_tail_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the memory sink holds the drained rows; the scratch table is done
    import os as _os
    import shutil

    shutil.rmtree(_os.path.dirname(path), ignore_errors=True)
    return (
        spark.table(sink)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "c_mktsegment",
            "_change_type",
            F.col("_commit_version").cast("int").alias("_commit_version"),
        )
        .orderBy("c_custkey", "_change_type")
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM customer),
    final AS (
      SELECT c_mktsegment,
             CASE WHEN c_custkey % 7 = 3 THEN 0 ELSE cents END AS cents
      FROM base WHERE c_custkey % 10 <> 0)
    SELECT c_mktsegment,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM final GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance driven end to end
    (`sources/incremental_mv.py`): bootstrap a per-segment sum/count MV
    over a CDF-enabled customer table, commit a deletion-vector DELETE
    and a rewriting UPDATE, then REFRESH the MV from the change feed
    alone — O(changes committed), the base is never rescanned. The DMLs
    are deterministic predicates, so the refreshed MV must equal the
    direct aggregate over the equivalent final state, which is what the
    oracle computes. Money is integer cents (CLAUDE.md trap 13), making
    the retraction algebra exact across engines.

    Scale shape: refresh = one O(changes) sidecar read, one grouped
    fold of signed deltas, one keyed merge into the MV; the cursor
    commits atomically with the MV data (txn), so replays are no-ops
    and a crash can never double-apply a batch."""
    import shutil
    import tempfile

    from ..sources import incremental_mv as imv
    from ..sources import managed_table as mt

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    scratch = tempfile.mkdtemp(prefix="mv_refresh_")
    path, mv_path = f"{scratch}/t", f"{scratch}/mv"
    try:
        mt.commit_overwrite(
            base, path, keys=("c_custkey",),
            properties={"enableChangeDataFeed": True},
        )
        imv.create_agg_mv(
            spark, path, mv_path, ["c_mktsegment"],
            {"total_cents": ("sum", "cents"), "n_rows": ("count", None)},
        )
        mt.delete_where(
            spark, path, "c_custkey % 10 = 0", deletion_vectors=True,
            max_history=10,
        )
        mt.update_where(
            spark, path, "c_custkey % 7 = 3",
            {"cents": F.lit(0).cast("bigint")}, max_history=10,
        )
        imv.refresh_agg_mv(spark, path, mv_path)
        out = (
            mt.read(spark, mv_path)
            .select("c_mktsegment", "total_cents", "n_rows")
            .orderBy("c_mktsegment")
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


@query(
    "eval_classifier_auc",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w, lang FROM documents),
    m AS (SELECT doc_id, lang, len(w) AS n,
           len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is')))
             AS n_stop,
           len(list_distinct(w)) AS n_distinct
          FROM t),
    s AS (SELECT doc_id,
           floor((0.5 * least(n / 50.0, 1.0)
                 + 0.3 * (1 - n_stop * 1.0 / n)
                 + 0.2 * least(n_distinct * 1.0 / n * 2, 1.0)) * 10000 + 0.5)
             / 10000 AS score,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          FROM m),
    per AS (SELECT score, count(*) AS cnt, sum(pos) AS pcnt
            FROM s GROUP BY score),
    cum AS (SELECT score, cnt, pcnt,
            coalesce(sum(cnt) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_less
            FROM per),
    agg AS (SELECT sum(pcnt * (cum_less + (cnt + 1) / 2.0)) AS s_pos,
                   sum(pcnt) AS p, sum(cnt) AS t
            FROM cum)
    SELECT CAST(p AS BIGINT) AS n_pos,
           CAST(t - p AS BIGINT) AS n_neg,
           floor((s_pos - p * (p + 1) / 2.0) / (p * (t - p)) * 1000000 + 0.5)
             / 1000000 AS auc
    FROM agg
    """,
)
def eval_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC of the heuristic quality score against the
    lang=='en' weak label — the Mann-Whitney rank-sum identity
    (AUC = (R_pos - P(P+1)/2) / (P*N)), computed WITHOUT a global
    per-row sort: scores collapse to per-value (count, positives)
    groups first, tie handling is the textbook average rank
    (cum_less + (cnt+1)/2), and the only window runs over the ~1e4
    DISTINCT score values (the 1e-4 quality grid), not the corpus.

    Every rank term is a half-integer times an integer count — exactly
    representable, so the fold is reduce-order-independent and the AUC
    matches DuckDB bit-for-bit (then rounded 1e-6 portably).

    Scale shape: one grouped agg over the corpus (map-side combinable),
    one tiny bounded window, one scalar fold. A classifier eval at
    100 TB is exactly this shape or it does not run."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    qs = text.quality_score(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    lab = docs.select(
        "doc_id", (F.col("lang") == F.lit("en")).cast("int").alias("pos")
    )
    per = (
        qs.join(lab, "doc_id")
        .groupBy("quality_score")
        .agg(F.count("*").alias("cnt"), F.sum("pos").alias("pcnt"))
    )
    w = Window.orderBy("quality_score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per.withColumn(
        "cum_less", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    agg = cum.agg(
        F.sum(
            F.col("pcnt")
            * (F.col("cum_less") + (F.col("cnt") + F.lit(1)) / F.lit(2.0))
        ).alias("s_pos"),
        F.sum("pcnt").alias("p"),
        F.sum("cnt").alias("t"),
    )
    return agg.select(
        F.col("p").cast("bigint").alias("n_pos"),
        (F.col("t") - F.col("p")).cast("bigint").alias("n_neg"),
        (
            F.floor(
                (F.col("s_pos") - F.col("p") * (F.col("p") + 1) / F.lit(2.0))
                / (F.col("p") * (F.col("t") - F.col("p")))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("auc"),
    )


@query(
    "eval_langid_confusion",
    oracle="""
    WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word
               FROM documents),
    counts AS (SELECT lang, word, count(*) cnt FROM w GROUP BY 1, 2),
    profiles AS (SELECT lang, word FROM (
        SELECT lang, word,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, word) rn
        FROM counts) WHERE rn <= 10),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents),
    n AS (SELECT doc_id, count(*) n FROM toks GROUP BY 1),
    hits AS (SELECT t.doc_id, p.lang, count(*) h
             FROM toks t JOIN profiles p ON t.word = p.word GROUP BY 1, 2),
    scored AS (SELECT h.doc_id, h.lang, h.h * 1.0 / n.n AS score
               FROM hits h JOIN n ON h.doc_id = n.doc_id),
    pred AS (SELECT doc_id, lang AS predicted_lang FROM (
        SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
                                                ORDER BY score DESC, lang) rn
        FROM scored) WHERE rn = 1)
    SELECT d.lang AS actual_lang, p.predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language classifier against the
    gold ``lang`` column — the eval every classifier in a curation
    pipeline needs next to its AUC. Pure integer counts (exact across
    engines); the classifier is the registry's own `text_language_id`
    path, so this also pins end-to-end that its predictions and the
    gold labels join 1:1.

    Scale shape: the profile build is one grouped count + a top-N
    window per language; scoring is an explode + broadcast-sized
    profile join; the matrix itself is one grouped count over
    (lang, predicted) — nothing here exceeds the corpus token scan."""
    from ..operators import text

    docs = load_table_parallel(spark, sf_dir, "documents")
    profiles = text.language_profiles(docs, "lang", "text", top_n=10)
    pred = text.language_id(docs, "doc_id", "text", profiles)
    return (
        docs.select("doc_id", F.col("lang").alias("actual_lang"))
        .join(pred, "doc_id")
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


@query(
    "eval_calibration_bins",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w, lang FROM documents),
    m AS (SELECT doc_id, lang, len(w) AS n,
           len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is')))
             AS n_stop,
           len(list_distinct(w)) AS n_distinct
          FROM t),
    s AS (SELECT doc_id,
           floor((0.5 * least(n / 50.0, 1.0)
                 + 0.3 * (1 - n_stop * 1.0 / n)
                 + 0.2 * least(n_distinct * 1.0 / n * 2, 1.0)) * 10000 + 0.5)
             / 10000 AS score,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          FROM m)
    SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pos) AS BIGINT) AS n_pos
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table of the quality classifier against the
    lang=='en' weak label: decile score bins with (total, positives)
    counts — the reliability-diagram input (observed rate = n_pos /
    n_docs per bin vs the bin's nominal score). Pure integer counts on
    the 1e-4-rounded score grid: exact across engines, no FP fold
    anywhere. One grouped count over the corpus — map-side combinable,
    10 output rows, the only eval shape that works at 100 TB."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    qs = text.quality_score(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    lab = docs.select(
        "doc_id", (F.col("lang") == F.lit("en")).cast("int").alias("pos")
    )
    return (
        qs.join(lab, "doc_id")
        .select(
            F.least(
                F.floor(F.col("quality_score") * 10), F.lit(9)
            ).cast("bigint").alias("bin"),
            "pos",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
        .orderBy("bin")
    )
