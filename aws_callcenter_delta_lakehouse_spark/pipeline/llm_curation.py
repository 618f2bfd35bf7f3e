"""End-to-end LLM training-data curation job.

Composes the individually-tested operators into the pipeline a
pre-training data team actually runs — the integration layer over
`operators/curation.py` and `operators/dedup.py`:

    filter -> exact dedup -> near-dup prune (MinHash-LSH) ->
    decontaminate vs the eval suite -> deterministic epoch shuffle ->
    sharded parquet export + manifest

Scale shape: every stage between the scan and the final export moves
IDS AND HASHES only (32-char md5s, 8-byte minhashes, shard ints) —
document payloads are read once at the scan and joined back exactly
once at the export write. Each pruning stage is a semi/anti join on the
id key. The export is one shuffle (repartition by shard) feeding a
``partitionBy`` write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.curation import curate, decontaminate
from ..operators.dedup import minhash_lsh_dedup_pairs
from ..operators.materialize import cut_once, scoped_cuts


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int = 0,
    num_shards: int = 8,
    near_dup_threshold: float = 0.8,
    decontam_n: int = 5,
) -> dict:
    """Run the full curation pipeline and write the training export.

    1. ``curate``: language/length filters (scan-pushed) + exact md5
       dedup (keep lowest id) + deterministic hash shard.
    2. Near-dup prune: MinHash-LSH pairs at ``near_dup_threshold``
       Jaccard among survivors; for each verified pair the HIGHER id is
       dropped (deterministic keep-first — transitive chains collapse
       to their lowest id because every non-minimal member pairs with
       at least one smaller survivor at this threshold).
    3. Decontamination: drop survivors sharing any ``decontam_n``-gram
       with the benchmark set (anti join on flagged ids).
    4. Epoch shuffle: md5(epoch, id) is the reproducible intra-shard
       sort key — any worker can recompute any shard's order.
    5. Export: payloads join back by id, one repartition on shard,
       ``partitionBy(shard)`` parquet write with ``pos`` materialized.

    Returns ``{"manifest": per-shard DataFrame, "dropped": stage-by-
    stage counts}`` — one action per stage, each over an id-only frame:
    ``curate`` emits ``(id, shard, n_chars)`` so the survivor chain
    never carries payloads, and the input count projects ``id_col``
    only so the scan prunes the text column.
    """
    spark = docs.sparkSession
    # every cut below (and those inside ``curate`` and the LSH pairs) is
    # released once the export is written: nothing returned references
    # them — the manifest re-reads ``out_dir`` and the counts are ints
    with scoped_cuts(spark):
        survivors = cut_once(curate(docs, id_col, text_col, num_shards=num_shards))
        n_exact = survivors.count()

        surviving_docs = docs.join(
            survivors.select(id_col), on=id_col, how="left_semi"
        )
        pairs = minhash_lsh_dedup_pairs(
            surviving_docs, id_col, text_col, threshold=near_dup_threshold
        )
        near_dup_losers = pairs.select(
            F.col("d2").alias(id_col)
        ).distinct()  # d1 < d2 by construction: the higher id always drops
        after_near = cut_once(
            survivors.join(near_dup_losers, on=id_col, how="left_anti")
        )
        n_near = after_near.count()

        contaminated = decontaminate(
            docs.join(after_near.select(id_col), on=id_col, how="left_semi"),
            benchmark,
            id_col,
            text_col,
            n=decontam_n,
        )
        clean = cut_once(
            after_near.join(contaminated.select(id_col), on=id_col, how="left_anti")
        )
        n_clean = clean.count()

        ordered = clean.withColumn(
            "__k",
            F.md5(
                F.concat(
                    F.lit(f"epoch{epoch}|"), F.col(id_col).cast("string")
                )
            ),
        ).withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("shard").orderBy("__k", id_col)
            ),
        )

        export = docs.join(
            ordered.select(id_col, "shard", "pos"), on=id_col
        )
        (
            export.repartition("shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(out_dir)
        )
    manifest = (
        spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum(F.length(text_col)).alias("total_chars"),
        )
        .orderBy("shard")
    )
    return {
        "manifest": manifest,
        "dropped": {
            "input": docs.select(id_col).count(),
            "after_filter_exact_dedup": n_exact,
            "after_near_dup": n_near,
            "after_decontamination": n_clean,
        },
    }
