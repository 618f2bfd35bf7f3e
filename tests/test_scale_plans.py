"""Physical-plan assertions: pin the scale properties the engine claims
(README §Scale design) so a regression that silently de-optimizes a plan
fails CI — pushdown reaches the scan, dims broadcast, the range join is
never a nested loop, top-k avoids a full sort, and bucketed tables join
without a shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY
from tests.conftest import SF01


def _plan(spark, name):
    df = REGISTRY[name].fn(spark, SF01)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_and_projection_reach_scan(spark):
    p = _plan(spark, "projection_pruning")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # pruned read schema: only the 3 referenced columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_quantity" not in read_schema


def test_dimension_joins_broadcast(spark):
    p = _plan(spark, "join_broadcast_star")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_range_join_is_not_nested_loop(spark):
    p = _plan(spark, "range_join_price_bands")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_topk_plans_take_ordered(spark):
    p = _plan(spark, "athena_q1_daily_summary")
    assert "TakeOrderedAndProject" in p


def test_semi_anti_plan_as_joins(spark):
    assert "LeftSemi" in _plan(spark, "join_semi")
    assert "LeftAnti" in _plan(spark, "join_anti")


def test_asof_join_single_shuffle(spark):
    p = _plan(spark, "asof_join_last_purchase")
    # exactly one shuffle (the window partitioning); no join operator at
    # all — the whole as-of is union + carry-forward
    tree_exchanges = [
        l for l in p.splitlines() if l.strip().endswith(")") and "Exchange (" in l
    ]
    assert len(tree_exchanges) == 1, tree_exchanges
    assert "Join" not in p


def test_ivf_assignment_is_shuffle_free(spark):
    """IVF centroid assignment must be a pure projection over the corpus:
    no shuffle Exchange, no Window, no fan-out join (the r1 formulation
    shuffled num_centroids× the corpus through a per-row window)."""
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import ivf_index

    emb = load_table(spark, SF01, "embeddings")
    _, assigned = ivf_index(emb, num_centroids=16)
    p = assigned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange hashpartitioning" not in p
    assert "Window" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """bucketBy co-located join: both sides bucketed on the key by the
    same bucket count join with ZERO exchanges — the 100 TB fact-fact
    join strategy."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table

    orders = load_table(spark, SF01, "orders")
    lineitem = load_table(spark, SF01, "lineitem")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("b_orders")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("b_lineitem")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == lineitem.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_decontaminate_benchmark_side_broadcasts(spark):
    """The benchmark gram set must broadcast (eval suites are small);
    a SortMergeJoin here would shuffle every training gram by value."""
    p = _plan(spark, "decontaminate_benchmark_overlap")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_curation_dedup_never_shuffles_text(spark):
    """The curate() dedup aggregates on md5(text); full document text
    must not appear in any Exchange output — only the 32-char hash."""
    p = _plan(spark, "curation_pipeline")
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", p):
        assert "text" not in m.group(1), m.group(0)


def test_dynamic_partition_pruning(spark, tmp_path):
    """A partitioned fact joined to a filtered dim must prune fact
    partitions at RUNTIME (DPP) — at 100 TB this is the difference
    between scanning one partition and scanning the table."""
    fact = (
        spark.range(0, 10_000)
        .withColumn("pk", F.col("id") % 20)
        .withColumn("v", F.col("id") * 2)
    )
    fact.write.partitionBy("pk").mode("overwrite").parquet(str(tmp_path / "fact"))
    f = spark.read.parquet(str(tmp_path / "fact"))
    dim = (
        spark.range(0, 20)
        .select(F.col("id").alias("pk"), (F.col("id") % 7).alias("attr"))
    )
    joined = f.join(dim, "pk").filter(F.col("attr") == 1)
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_injected_for_selective_join(spark, tmp_path):
    """A selective filter on one side of a shuffle join must inject a
    runtime bloom filter (might_contain) on the other side's scan — the
    runtime row-pruning that cuts shuffle volume when neither side
    broadcasts at 100 TB. Thresholds are relaxed only because local
    test scans are tiny; the optimizer rule is what's pinned."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.range(0, 100_000).withColumn("k", F.col("id")).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "big"))
        spark.range(0, 10_000).withColumn("k", F.col("id") * 7).withColumn(
            "attr", F.col("id") % 100
        ).write.mode("overwrite").parquet(str(tmp_path / "small"))
        big = spark.read.parquet(str(tmp_path / "big"))
        small = spark.read.parquet(str(tmp_path / "small")).filter(
            F.col("attr") == 3
        )
        p = big.join(small, "k")._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in p.lower(), p
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_join_strategy_hints_are_honored(spark):
    """Join hints must reach the planner: SHUFFLE_HASH avoids the sort
    of a SortMergeJoin (the right call when one side is modest but
    over the broadcast line); MERGE forces SMJ. At 100 TB picking the
    join strategy per join is routine tuning surface."""
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table

    o = load_table(spark, SF01, "orders")
    li = load_table(spark, SF01, "lineitem")
    shj = li.join(o.hint("shuffle_hash"), F.col("o_orderkey") == F.col("l_orderkey"))
    p1 = shj._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ShuffledHashJoin" in p1
    smj = li.join(o.hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
    p2 = smj._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" in p2


def test_range_partitioned_sort_plan(spark):
    """Globally-ordered output at scale = repartitionByRange (sampled
    range boundaries) + sortWithinPartitions — the plan must show a
    rangepartitioning Exchange and NO global single-partition sort."""
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table

    li = load_table(spark, SF01, "lineitem").select("l_orderkey", "l_shipdate")
    out = li.repartitionByRange(8, "l_shipdate").sortWithinPartitions("l_shipdate")
    p = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "rangepartitioning" in p.lower()
    # formatted explain renders a single-partition exchange as
    # 'Exchange (N)' + 'Arguments: SinglePartition' — match the
    # argument token, not the (never-printed) one-line form
    assert "SinglePartition" not in p


def test_analyze_table_feeds_cbo_stats(spark, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS must land in the catalog and
    reach the optimizer (CBO reads rowCount/sizeInBytes for join
    planning) — the stats-collection surface a 100 TB warehouse runs
    after loads."""
    import os
    import shutil

    from aws_callcenter_delta_lakehouse_spark.catalog import load_table

    spark.sql("DROP TABLE IF EXISTS stats_nation")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    stale = os.path.join(warehouse.removeprefix("file:"), "stats_nation")
    if os.path.isdir(stale):
        shutil.rmtree(stale, ignore_errors=True)
    load_table(spark, SF01, "nation").write.mode("overwrite").saveAsTable(
        "stats_nation"
    )
    spark.sql("ANALYZE TABLE stats_nation COMPUTE STATISTICS FOR ALL COLUMNS")
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        stats = (
            spark.table("stats_nation")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert stats.rowCount().isDefined()
        assert stats.rowCount().get() == 25
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESC EXTENDED stats_nation").collect()
    }
    assert "25 rows" in desc.get("Statistics", "")
    spark.sql("DROP TABLE stats_nation")


def test_top_ngrams_partial_agg_and_topk(spark):
    # corpus bigram counts: map-side partial aggregation must collapse
    # grams before the exchange, and the top-k must never global-sort
    p = _plan(spark, "text_top_bigrams")
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p


def test_vocab_coverage_has_no_window_at_all(spark):
    # the cumulative coverage is a broadcast triangular join over the
    # top-k head — the plan must contain no WindowExec (the old
    # formulation's unpartitioned window is the single-partition node
    # Spark itself warns about) and the cum-sum join must be broadcast
    p = _plan(spark, "text_vocab_coverage")
    assert "Window (" not in p and "Window(" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_global_running_sum_never_single_partition(spark):
    # the distributed prefix sum: range exchange on the order keys, the
    # only Window is partitioned by __pid (hashpartitioning), and no
    # exchange in the plan is SinglePartition
    p = _plan(spark, "global_running_revenue")
    assert "rangepartitioning" in p.lower(), p
    assert "hashpartitioning(__pid" in p, p
    assert "SinglePartition" not in p, p


def test_offsets_two_level_exact_at_high_p(spark):
    """r12 verdict item 2: _offsets was O(P^2); the two-level rewrite
    must stay exact at a partition count far above anything the local
    suite exercises (P=1337, deliberately not a square or power of two,
    with gaps in the pid sequence as AQE coalescing can produce), keep
    both joins broadcast, and plan no Window/SinglePartition node."""
    from aws_callcenter_delta_lakehouse_spark.operators.prefix import _offsets

    pids = [i for i in range(1337) if i % 97 != 3]  # gapped pid space
    totals = spark.createDataFrame(
        [(p, (p * 7919) % 1000 - 500) for p in pids], "`__pid` int, `__ptotal` long"
    )
    off = _offsets(totals, num_partitions=1337)
    got = {r["__pid"]: r["__offset"] for r in off.collect()}
    run, want = 0, {}
    for p in pids:
        want[p] = run
        run += (p * 7919) % 1000 - 500
    assert got == want
    plan = off._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_global_running_sum_backends_agree(spark):
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY as R

    a = {
        (r.o_orderkey, r.running_revenue_cents)
        for r in R["global_running_revenue"].fn(spark, SF01).collect()
    }
    b = {
        (r.o_orderkey, r.running_revenue_cents)
        for r in R["global_running_revenue_arrow"].fn(spark, SF01).collect()
    }
    assert a == b


def test_aqe_splits_skewed_join(spark):
    """The AQE skew-join path the 100 TB design leans on (SCALING.md:
    skewed FACT-FACT joins are AQE's job; salting covers aggregates):
    with a hot key and thresholds scaled to test data, the final
    adaptive plan must mark the sort-merge join skew=true."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 3 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1_000).select(F.col("id").alias("k"))
        joined = left.join(right, "k")
        # execute THIS DataFrame's query execution (count() would build
        # a different one and leave the adaptive plan non-final)
        assert len(joined.collect()) > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ngram_span_join_is_hash_not_cartesian(spark):
    p = _plan(spark, "dedup_duplicated_ngram_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_zorder_key_is_pure_projection(spark):
    """The Morton key must be codegen bit math: no Python worker, no
    shuffle — the only shuffle ever comes from the WRITE's range
    partitioning, not the key computation."""
    p = _plan(spark, "layout_zorder_orders")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Exchange" not in p


def test_linkage_blocks_as_broadcast_hash_join(spark):
    p = _plan(spark, "linkage_customer_supplier")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_rolling_time_window_single_shuffle(spark):
    p = _plan(spark, "events_rolling_7day")
    # exactly one Exchange node header: the window's hash partitioning
    headers = [l for l in p.splitlines() if "Exchange (" in l]
    assert len(headers) == 1, headers
    assert "Window" in p


def test_quality_classifier_no_python_worker(spark):
    p = _plan(spark, "text_quality_classifier")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_global_percent_rank_window_is_pid_partitioned(spark):
    # the only Window must be partitioned by __pid over the range
    # exchange; the sole SinglePartition exchange allowed is the 1-row
    # global count(*) reduce (scalar aggregate, fine at any scale)
    p = _plan(spark, "global_percent_rank")
    assert "rangepartitioning" in p.lower(), p
    assert "hashpartitioning(__pid" in p, p
    import re
    windows = [l for l in p.splitlines() if "Window [" in l or "Window (" in l]
    assert windows, p
    for block in p.split("\n\n"):
        if "SinglePartition" in block:
            # must be the Exchange carrying the 1-row count, nothing else
            assert "Exchange" in block and "count#" in block, block


def test_join_strategy_hints_are_honored(spark):
    """When the dim is too big to broadcast but the fact side is already
    sorted-free, SHUFFLE_HASH skips both sort passes of SMJ; the hint
    surface must actually reach the physical plan (a silently-ignored
    hint is a 2x sort regression at 100 TB)."""
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table

    orders = load_table(spark, SF01, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, SF01, "customer").select("c_custkey", "c_mktsegment")
    shj = orders.join(
        cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey
    )
    p = shj._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p

    smj = orders.join(
        cust.hint("merge"), orders.o_custkey == cust.c_custkey
    )
    p2 = smj._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" in p2


def test_exact_median_has_no_global_sort(spark):
    """The two-pass exact percentile must never plan a global Sort over
    the full input: ordering happens only inside the bracket window
    (partitioned by group), and the sketch pass is pure aggregation."""
    p = _plan(spark, "events_exact_median")
    # a window sort partitioned by event_type is fine; a global
    # rangepartitioning-backed Sort of the events scan is not
    assert "rangepartitioning(value" not in p.replace(" ", "").lower()


def test_spatial_radius_join_is_equi_join(spark):
    """The grid spatial join must plan as a cell-keyed equi-join —
    never a cross/nested-loop pair enumeration (the oracle's shape)."""
    p = _plan(spark, "spatial_radius_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_join_mv_refresh_plan_is_delta_sized(spark):
    """Delta-join MV maintenance: the insert-only change batch means
    Catalyst constant-folds the removed-key set to empty and ELIDES the
    anti-join entirely (PropagateEmptyRelation); the Δ re-join against
    the dim broadcasts; and the Δ scan itself is cutoff-pushed — the
    refresh never rescans the pre-cutoff fact."""
    p = _plan(spark, "incremental_join_mv_refresh")
    assert "LeftAnti" not in p  # folded away, not executed
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "GreaterThanOrEqual(o_orderdate" in p  # Δ filter reaches the scan


def test_prefix_filter_joins_are_equi_and_pruned(spark):
    """The prefix-filter dedup must never degrade to a nested-loop/
    cartesian pair join, and the PPJoin integer prunes (size
    compatibility + positional bound) must sit BELOW the pair
    aggregate — i.e. the verify joins see a filtered candidate set,
    not the raw token join output."""
    p = _plan(spark, "dedup_prefix_filter")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the positional-bound filter exists post-aggregate (least(...) over
    # the min positions appears exactly in the filter expressions)
    assert "least(" in p
    # the exact verify exists and runs over equi-joined candidates
    assert "array_intersect" in p


def test_bloom_prefilter_probe_stays_on_scan_side(spark):
    """join_bloom_prefilter's fact-side probe must be a broadcast of the
    one-row bitmap (BroadcastNestedLoopJoin on a literal-true condition)
    followed by a plain filter — no shuffle of lineitem before the
    filter, no Python, and the dim join itself broadcasts."""
    p = _plan(spark, "join_bloom_prefilter")
    assert "BroadcastHashJoin" in p  # the dim join
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_epoch_shuffle_single_exchange(spark):
    """training_epoch_shuffle: exactly one hash exchange (on the shard
    key) and no global sort — the md5 keys are computed in the scan
    projection and each shard sorts locally for its row_number."""
    p = _plan(spark, "training_epoch_shuffle")
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "rangepartitioning" not in p.lower()  # no global ordering


def test_normalized_keep_best_shuffles_hash_not_text(spark):
    """dedup_normalized_keep_best: the exchange carries the 32-char
    canonical hash, never the document text."""
    p = _plan(spark, "dedup_normalized_keep_best")
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in m.group(1), m.group(0)


def test_recall_eval_has_no_cartesian_and_broadcasts_queries(spark):
    """The eval harness (r6): the exact side must broadcast the QUERY
    sample onto the corpus (never shuffle the corpus for 5 rows) and
    the approximate side keeps the pinned zero-shuffle IVF shape — no
    CartesianProduct anywhere, corpus scanned, never exploded."""
    p = _plan(spark, "similarity_recall_eval")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p
    assert "BatchEvalPython" not in p


def test_cross_source_overlap_never_builds_doc_pairs(spark):
    """The source-overlap join (r6) must key on the GRAM, not on
    documents: the only self-join condition is the shingle equality, so
    per-gram fan-out is bounded by #sources — a regression to doc-level
    pairing would show a join keyed on doc_id."""
    p = _plan(spark, "corpus_cross_source_overlap")
    assert "CartesianProduct" not in p
    joins = [l for l in p.splitlines() if "SortMergeJoin" in l or "ShuffledHashJoin" in l]
    assert all("doc_id" not in l for l in joins), joins


def test_lsh_recall_eval_pairs_only_within_buckets(spark):
    """The dedup-index eval (r6): candidate pairs come from the band-
    key equi-join and the truth side from the shingle equi-join — a
    regression to any unkeyed pairing (all-pairs Jaccard, cross-joined
    signatures) would surface as a CartesianProduct; the scalar count
    combine is the only nested-loop (1x1 broadcast) allowed."""
    p = _plan(spark, "dedup_lsh_recall_eval")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    # pair-generating joins are keyed on bkt / sh, never on doc ids
    joins = [
        l
        for l in p.splitlines()
        if "SortMergeJoin" in l or "ShuffledHashJoin" in l
    ]
    assert all("d1" not in l or "d2" in l for l in joins)


def test_token_budget_single_source_shuffle(spark):
    """The budget cut (r6) is one hash shuffle on source + a window
    inside each source partition — no global sort before the cut, no
    join anywhere."""
    import re

    p = _plan(spark, "curation_token_budget_select")
    assert "Join" not in p and "CartesianProduct" not in p
    hash_parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("source" in g for g in hash_parts)
    # no shuffle ever carries the text payload
    for g in hash_parts:
        assert "text" not in g


def test_general_merge_plan_is_key_joined(spark, tmp_path, monkeypatch):
    """The facade's general merge executor must plan its target-side
    left_outer and insert-side left_anti as EQUI joins when the merge
    condition is an equi-condition — never a cartesian/nested-loop (at
    100 TB that's target x source). Captured by intercepting the commit
    and explaining the merged frame it was handed."""
    from aws_callcenter_delta_lakehouse_spark.sources import delta_api as da
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.delta_api import DeltaTable

    path = str(tmp_path / "t")
    base = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    mt.commit_overwrite(base, path, keys=("id",))
    src = spark.range(5_000, 15_000).withColumn("v", F.col("id") * 3)

    captured = {}

    def fake_commit(df, *a, **kw):
        captured["df"] = df

    monkeypatch.setattr(da.managed_table, "commit_overwrite", fake_commit)
    (
        DeltaTable.forPath(spark, path).alias("t")
        .merge(src, "t.id = s.id")
        .whenMatchedUpdate(condition="s.v > 0", set={"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )
    p = captured["df"]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    assert "LeftAnti" in p  # the insert side is an anti join, not a subtract-rescan


def test_geohash_is_pure_projection_then_equi_join(spark):
    # the encode is a per-row expression (no shuffle, no python); the
    # co-location join is an equi-join on the cell id
    p = _plan(spark, "spatial_geohash_cells")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dp_release_single_aggregate_per_branch(spark):
    # Laplace noise is a per-group scalar expression — no extra
    # exchange beyond the two aggregates + the key join
    p = _plan(spark, "dq_dp_noisy_counts")
    assert "BatchEvalPython" not in p
    assert p.count("Exchange") <= 6  # 2 aggs (partial+final) + join sides


def test_holt_fold_single_shuffle_no_python(spark):
    p = _plan(spark, "forecast_holt_linear")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_pattern_match_single_shuffle_no_python(spark):
    p = _plan(spark, "events_pattern_match")
    assert "BatchEvalPython" not in p
    # one hash aggregate assembles each user's sequence; the regex runs
    # in the same stage's projection
    assert "CartesianProduct" not in p


def test_url_canonical_no_shuffle_before_aggregate(spark):
    p = _plan(spark, "dedup_url_canonical")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_theil_sen_pairs_are_hash_join_not_cartesian(spark):
    p = _plan(spark, "regression_theil_sen")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_phash_neardup_banded_join_no_cartesian(spark):
    p = _plan(spark, "multimodal_phash_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_mmr_broadcast_queries_no_cartesian(spark):
    p = _plan(spark, "similarity_mmr_rerank")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_bootstrap_resample_no_python_no_extra_exchange(spark):
    p = _plan(spark, "stats_bootstrap_ci")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_rake_no_python_no_cartesian(spark):
    p = _plan(spark, "text_rake_keywords")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_holt_winters_single_shuffle_no_python(spark):
    p = _plan(spark, "forecast_holt_winters")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_mann_kendall_pairs_hash_join(spark):
    p = _plan(spark, "events_mann_kendall")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_spearman_matrix_date_keyed_join(spark):
    p = _plan(spark, "events_spearman_matrix")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_gini_segment_keyed_no_python(spark):
    p = _plan(spark, "orders_gini_concentration")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_top_paths_single_window_shuffle(spark):
    p = _plan(spark, "events_top_paths")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "TakeOrderedAndProject" in p  # top-10, never a full sort


def test_funnel_and_abc_ranks_are_distributed(spark):
    """Round-12 de-globalization: funnel_latency_percentiles (rank over
    all converted users) and orders_abc_analysis (running sum over all
    parts) must rank through the two-phase prefix sum — range exchange,
    __pid-partitioned window, and NO unpartitioned Window anywhere in
    the optimized plan (global_window_audit; a plain substring check on
    'Exchange SinglePartition' is vacuous in formatted explain, which
    renders the mode on a separate Arguments line — and the 1-row
    broadcast-total agg legitimately plans one)."""
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY as R
    from aws_callcenter_delta_lakehouse_spark.plans.audit import (
        global_window_audit,
    )

    for name in ("funnel_latency_percentiles", "orders_abc_analysis"):
        p = _plan(spark, name)
        assert "rangepartitioning" in p.lower(), (name, p)
        assert "hashpartitioning(__pid" in p, (name, p)
        gw = global_window_audit(R[name].fn(spark, SF01))
        assert gw == [], (name, gw)
