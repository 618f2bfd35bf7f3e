"""Golden test for the end-to-end curation job: a corpus with one
planted exact duplicate, one near duplicate, and one benchmark-
contaminated document must lose exactly those three — and the export
must be byte-deterministic across reruns (the reproducibility contract
of hash-keyed shuffling)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.pipeline.llm_curation import (
    curate_corpus,
)

_BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the deep green forest while nobody watches the trail "
    "marks it left behind on the soft wet ground near the old river"
)


def _corpus(spark):
    # 10 clean docs + 1 exact dup of doc 0 + 1 near dup of doc 1
    # + 1 doc quoting the benchmark
    rows = []
    for i in range(10):
        body = " ".join(
            f"w{i}x{j} token{(i * 31 + j) % 97} filler{j}" for j in range(40)
        )
        rows.append((i, _BASE + " " + body))
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    near = rows[1][1].rsplit(" ", 2)[0] + " changed tail"  # near dup of doc 1
    rows.append((101, near))
    bench_text = "secret benchmark question alpha beta gamma delta epsilon"
    rows.append((102, _BASE + " " + bench_text))  # contaminated
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("src0").alias("source"),
        F.length("text").alias("n_chars"),
    )
    bench = spark.createDataFrame(
        [(0, bench_text + " and more eval material here")],
        "qid long, text string",
    ).select(F.col("qid").alias("doc_id"), "text")
    return docs, bench


def test_curation_job_end_to_end(spark, tmp_path):
    docs, bench = _corpus(spark)
    out = str(tmp_path / "export")
    result = curate_corpus(
        docs, bench, out, num_shards=4, near_dup_threshold=0.7
    )
    d = result["dropped"]
    assert d["input"] == 13
    assert d["after_filter_exact_dedup"] == 12  # doc 100 gone (md5 dup)
    assert d["after_near_dup"] == 11  # doc 101 gone (jaccard >= 0.7)
    assert d["after_decontamination"] == 10  # doc 102 gone (5-gram hit)

    exported = spark.read.parquet(out)
    kept = {r.doc_id for r in exported.select("doc_id").collect()}
    assert kept == set(range(10))
    # every shard dir is a real partition; positions are 1..n per shard
    for shard_dir in glob.glob(out + "/shard=*"):
        assert glob.glob(shard_dir + "/*.parquet")
    pos_ok = (
        exported.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.max("pos").alias("mx"),
            F.min("pos").alias("mn"),
        )
        .collect()
    )
    for r in pos_ok:
        assert r.mn == 1 and r.mx == r.n

    manifest = result["manifest"].collect()
    assert sum(r.n_docs for r in manifest) == 10

    # determinism: a rerun produces the identical (doc_id, shard, pos)
    out2 = str(tmp_path / "export2")
    curate_corpus(docs, bench, out2, num_shards=4, near_dup_threshold=0.7)
    a = {
        (r.doc_id, r.shard, r.pos)
        for r in spark.read.parquet(out).select("doc_id", "shard", "pos").collect()
    }
    b = {
        (r.doc_id, r.shard, r.pos)
        for r in spark.read.parquet(out2).select("doc_id", "shard", "pos").collect()
    }
    assert a == b


def test_curation_job_releases_its_cuts(spark, tmp_path):
    """A long-lived session that reruns the job must not accumulate its
    lineage-cut blocks: the persistent-RDD set is unchanged by a run."""
    docs, bench = _corpus(spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    result = curate_corpus(
        docs, bench, str(tmp_path / "export"), num_shards=4,
        near_dup_threshold=0.7,
    )
    assert result["dropped"]["after_decontamination"] == 10
    assert set(jsc.getPersistentRDDs().keys()) == before
