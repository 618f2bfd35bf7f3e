"""Ninth batch: robust statistics and deterministic weighted sampling.

- events_mad_outliers — median/MAD robust outlier flags per event type
  (the heavy-tail-safe alternative to mean/stddev z-scores),
- sample_weighted_ares — Efraimidis–Spirakis A-Res weighted sampling
  without replacement, made fully deterministic (and oracle-checkable)
  by deriving the uniform from the portable md5 hash,
- corpus_source_kl_divergence — KL(source ‖ corpus) over word
  distributions: the data-mixture drift diagnostic.

All three oracle-checked against DuckDB at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from .registry import query


@query(
    "events_mad_outliers",
    oracle="""
    WITH med AS (SELECT event_type, median(value) AS m
                 FROM events GROUP BY 1),
    mad AS (SELECT e.event_type,
                   ANY_VALUE(m) AS m,
                   median(abs(e.value - m)) AS mad
            FROM events e JOIN med USING (event_type) GROUP BY e.event_type),
    thr AS (SELECT event_type,
                   floor((m + 3 * 1.4826 * mad) * 1e6 + 0.5) / 1e6 AS hi
            FROM mad)
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN thr USING (event_type)
    WHERE e.value > hi
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers: value > median + 3·1.4826·MAD per event type
    (1.4826 scales MAD to σ under normality). Two exact-median
    aggregates (median, then median of absolute deviations — the
    second needs the first joined back, so two shuffles on the type
    key) + a broadcast threshold join; the threshold is ROUNDED so both
    engines cut at the identical double."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(F.median("value").alias("m"))
    mad = (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("m").alias("m"),
            F.median(F.abs(F.col("value") - F.col("m"))).alias("mad"),
        )
    )
    thr = mad.select(
        "event_type",
        round_portable(F.col("m") + 3 * 1.4826 * F.col("mad"), 6).alias("hi"),
    )
    return (
        events.join(F.broadcast(thr), "event_type")
        .where(F.col("value") > F.col("hi"))
        .select("event_id", "event_type", "value")
    )


@query(
    "sample_weighted_ares",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             floor(exp(ln((CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)
                           + 0.5) / 4294967296.0) / n_chars) * 1e9 + 0.5)
               / 1e9 AS ares_key
      FROM documents)
    SELECT doc_id, n_chars, ares_key
    FROM keyed
    ORDER BY ares_key DESC, doc_id
    LIMIT 25
    """,
)
def sample_weighted_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-Res): key = u^(1/w) with w = n_chars and u a DETERMINISTIC
    uniform from the portable md5 hash — so the 'random' sample is
    reproducible and differentially testable. Top-k by key plans as
    TakeOrderedAndProject (no global sort); keys are rounded to 1e-9
    before ranking so libm-vs-JVM ulp noise cannot reorder ranks."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") + 0.5
    ) / F.lit(4294967296.0)
    key = round_portable(
        F.exp(F.log(u) / F.col("n_chars").cast("double")), 9
    )
    return (
        docs.select("doc_id", "n_chars", key.alias("ares_key"))
        .orderBy(F.desc("ares_key"), F.asc("doc_id"))
        .limit(25)
    )


@query(
    "corpus_source_kl_divergence",
    oracle="""
    WITH words AS (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents),
    sc AS (SELECT source, w, COUNT(*) AS c FROM words GROUP BY 1, 2),
    st AS (SELECT source, SUM(c) AS t FROM sc GROUP BY 1),
    gc AS (SELECT w, SUM(c) AS g FROM sc GROUP BY 1),
    gt AS (SELECT SUM(c) AS gt FROM sc)
    SELECT source,
           floor(SUM((c * 1.0 / t) * ln((c * 1.0 / t) / (g * 1.0 / gt)))
                 * 1e6 + 0.5) / 1e6 AS kl_divergence
    FROM sc JOIN st USING (source) JOIN gc USING (w) CROSS JOIN gt
    GROUP BY source
    """,
)
def corpus_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source word distribution ‖ corpus word distribution) per
    source — how far each slice drifts from the mixture. One word-level
    aggregate, per-source totals broadcast back, global totals as a
    broadcast scalar; every source word occurs in the corpus by
    construction so no zero-probability terms exist."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    # cut once: sc feeds the per-source totals, global word counts,
    # global total AND the scoring join (4 refs — r13 opt)
    sc = cut_once(words.groupBy("source", "w").agg(F.count("*").alias("c")))
    st = sc.groupBy("source").agg(F.sum("c").alias("t"))
    gc = sc.groupBy("w").agg(F.sum("c").alias("g"))
    gt = sc.agg(F.sum("c").alias("gt"))
    joined = (
        sc.join(F.broadcast(st), "source")
        .join(gc, "w")
        .join(F.broadcast(gt))
    )
    p = F.col("c") / F.col("t")
    q = F.col("g") / F.col("gt")
    return joined.groupBy("source").agg(
        round_portable(F.sum(p * F.log(p / q)), 6).alias("kl_divergence")
    )
