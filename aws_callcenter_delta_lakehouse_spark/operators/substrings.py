"""Substring-level dedup signals and content-defined chunking.

Engine extension surface (BASELINE.json north star; the reference has no
text-curation machinery — its closest surface is the MERGE key-uniqueness
guarantee, 01_silver_delta_upsert.py:104-108). Two primitives a 100 TB
training-data pipeline runs before tokenization:

- duplicated_ngram_spans  per-document "how much of this text is an exact
                          repeat of text elsewhere in the corpus" — the
                          document-level signal of Lee et al. 2021
                          ("Deduplicating Training Data Makes Language
                          Models Better"), computed as the fraction of a
                          document's word n-grams that occur >= 2 times
                          corpus-wide.
- cdc_chunks              content-defined chunking: chunk boundaries are
                          placed where hash(word) % divisor == 0, so an
                          insertion early in a document shifts at most one
                          chunk instead of re-windowing everything after
                          it (the rsync/LBFS boundary trick applied to
                          words).

All pure DataFrame built-ins — no Python UDFs — so every expression stays
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import cut_once


def _portable_word_hash(col: F.Column) -> F.Column:
    """32-bit hash both Spark and DuckDB compute identically:
    first 8 hex chars of md5, read as an integer (DuckDB:
    ``CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def duplicated_ngram_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 7
) -> DataFrame:
    """Per-document duplicated-n-gram statistics.

    A document's n-grams (word-level, all positions, duplicates kept)
    are matched against the set of n-grams occurring >= 2 times in the
    whole corpus; output is ``(id, n_grams, dup_grams, dup_fraction)``.
    Documents with fewer than ``n`` words produce no grams and are
    omitted (consistent with the oracle).

    Scale shape: one select builds the gram array per row (the split is
    materialized in its own projection first so the lambda never
    re-evaluates it per element), one hash-aggregate shuffle counts gram
    occurrences with map-side partial aggregation, one shuffle join maps
    grams back to documents, one final aggregate per document. The hot
    side of the join has exactly one row per duplicated gram, so a skewed
    gram inflates the probe side only — AQE skew-join splits it. At
    100 TB you would join on ``xxhash64(gram)`` instead of the string to
    cut shuffle bytes; the string key is kept here for engine-portable
    oracle parity.
    """
    words = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("l")
    ).where(F.size("l") >= n)
    # cut once: grams feeds the corpus occurrence count AND the mapback
    # join — uncut, the gram explode ran twice (r13 opt, guide §2.4)
    grams = cut_once(words.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - n + 1),
                lambda i: F.array_join(F.slice("l", i, n), " "),
            )
        ).alias("gram"),
    ))
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("occ"))
        .where(F.col("occ") >= 2)
        .select("gram", F.lit(1).alias("is_dup"))
    )
    return (
        grams.join(dup, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long").alias("dup_grams"),
        )
    )


def cdc_chunks(
    df: DataFrame, id_col: str, text_col: str, divisor: int = 16
) -> DataFrame:
    """Content-defined chunking over words.

    A word whose portable 32-bit hash is ``== 0 (mod divisor)`` starts a
    new chunk, giving chunks of ``divisor`` words in expectation whose
    boundaries are stable under edits elsewhere in the document. Output:
    ``(id, chunk_id, n_words, start_pos, end_pos, chunk_text)``.

    Scale shape: posexplode -> one shuffle partitioning by document for
    the running boundary count (a window over (doc, pos)) -> hash
    aggregate on (doc, chunk). Chunk text is reassembled with
    ``array_sort(collect_list(struct(pos, word)))`` so ordering never
    depends on partition iteration order. State per document is its own
    word list only — no cross-document state, so the plan is embarrassingly
    parallel at any scale.
    """
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "word"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        "word",
        (_portable_word_hash(F.col("word")) % divisor == 0)
        .cast("int")
        .alias("flag"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    chunked = words.select(
        id_col,
        "pos",
        "word",
        F.sum("flag").over(w).cast("int").alias("chunk_id"),
    )
    return chunked.groupBy(id_col, "chunk_id").agg(
        F.count("*").alias("n_words"),
        F.min("pos").alias("start_pos"),
        F.max("pos").alias("end_pos"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("chunk_text"),
    )


def segment_dedup(
    df: DataFrame, id_col: str, text_col: str, divisor: int = 16
) -> DataFrame:
    """Segment-level exact dedup (the RefinedWeb/MassiveText move):
    instead of dropping whole near-duplicate documents, drop REPEATED
    SEGMENTS — boilerplate headers, license blocks, templated spans —
    and keep the rest of each document.

    Pipeline: content-defined chunks (edit-stable boundaries, so the
    same boilerplate chunks identically everywhere it appears) ->
    first-occurrence-wins on exact chunk text (global min of the
    (doc, chunk) position key — deterministic, not "whichever partition
    ran first") -> per-document reassembly in chunk order.

    Shuffle shape: one exchange keyed on chunk_text for the
    first-occurrence aggregate + join, one on the doc id for
    reassembly; no pairwise comparisons anywhere. Precondition:
    documents shorter than 100k words (the position key packs
    doc*100000 + chunk).

    Output: ``(id, n_chunks, n_kept, dedup_text)`` — documents whose
    every chunk was seen earlier come back with ``n_kept = 0`` and an
    empty string (the caller's filter decides their fate).
    """
    # cut once: the first-occurrence aggregate AND the keep-flag join
    # both read the chunk table — uncut, the whole content-defined
    # chunking (explode + window + reassembly agg) ran twice (r13 opt)
    chunks = cut_once(cdc_chunks(df, id_col, text_col, divisor).select(
        id_col,
        "chunk_id",
        "chunk_text",
        (F.col(id_col) * 100000 + F.col("chunk_id")).alias("__pos_key"),
    ))
    first = chunks.groupBy("chunk_text").agg(F.min("__pos_key").alias("__first"))
    kept_flag = chunks.join(first, "chunk_text").withColumn(
        "__keep", (F.col("__pos_key") == F.col("__first")).cast("int")
    )
    return (
        kept_flag.groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("__keep").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep") == 1,
                                F.struct("chunk_id", "chunk_text"),
                            )
                        )
                    ),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("dedup_text"),
        )
    )
