"""Z-order layout: the Morton key must actually tighten per-file
min/max statistics on BOTH clustered columns (that is the entire point
of the operator — data skipping at read time)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.catalog import load_table
from aws_callcenter_delta_lakehouse_spark.operators.layout import (
    zorder_key,
    zorder_layout,
)
from tests.conftest import SF01, spark_jobs


def _avg_span_fraction(spark, path, cols):
    """Per-parquet-file (max-min) span of each column, averaged over
    files, as a fraction of the global span."""
    df = spark.read.parquet(path).withColumn("__f", F.input_file_name())
    per_file = df.groupBy("__f").agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    )
    gl = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    out = {}
    for c in cols:
        spans = (
            per_file.select((F.col(f"mx_{c}") - F.col(f"mn_{c}")).alias("s"))
            .agg(F.avg("s"))
            .first()[0]
        )
        out[c] = spans / (gl[f"mx_{c}"] - gl[f"mn_{c}"])
    return out


def test_zorder_tightens_file_stats_on_both_dims(spark, tmp_path):
    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long")
        .alias("order_day"),
    )
    zpath = str(tmp_path / "zordered")
    zorder_layout(orders, ["o_custkey", "order_day"], num_files=16).write.parquet(
        zpath
    )
    frac = _avg_span_fraction(spark, zpath, ["o_custkey", "order_day"])
    # 16 Z-range files over 2 dims ~ a 4x4 grid: each file should cover
    # roughly a quarter of each dimension; unclustered files cover ~all.
    assert frac["o_custkey"] < 0.6, frac
    assert frac["order_day"] < 0.6, frac


def test_zorder_key_bit_interleaving(spark):
    """Known Morton codes on a 4x4 grid: x occupies even bit positions,
    y odd ones."""
    df = spark.range(16).select(
        (F.col("id") % 4).alias("x"), (F.col("id") / 4).cast("long").alias("y")
    )
    keyed = df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")
    )
    rows = {(r.x, r.y): r.z for r in keyed.collect()}
    assert rows[(0, 0)] == 0
    assert rows[(1, 0)] == 1
    assert rows[(0, 1)] == 2
    assert rows[(1, 1)] == 3
    assert rows[(2, 0)] == 4
    assert rows[(0, 2)] == 8
    assert rows[(2, 2)] == 12
    assert rows[(3, 3)] == 15


def test_stats_manifest_file_skipping(spark, tmp_path):
    """A clustered write + stats manifest must let a range read open
    only the files whose min/max intersect the predicate, with results
    identical to the full-scan filter."""
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        pruned_file_list,
        read_with_skipping,
        write_clustered,
        write_stats_manifest,
    )

    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "clustered")
    write_clustered(orders, path, ["o_custkey"], num_files=8)
    write_stats_manifest(path, ["o_custkey"])

    files, total = pruned_file_list(path, "o_custkey", lo=100, hi=200)
    assert total == 8
    assert 0 < len(files) < total  # actual pruning happened

    got = read_with_skipping(spark, path, "o_custkey", lo=100, hi=200)
    want = orders.filter(F.col("o_custkey").between(100, 200))
    assert got.count() == want.count()
    assert got.select(F.sum("o_orderkey")).first()[0] == want.select(
        F.sum("o_orderkey")
    ).first()[0]


def test_skipping_without_manifest_uses_footers(spark, tmp_path):
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        pruned_file_list,
        write_clustered,
    )

    orders = load_table(spark, SF01, "orders").select("o_orderkey", "o_custkey")
    path = str(tmp_path / "nofooter")
    write_clustered(orders, path, ["o_custkey"], num_files=4)
    files, total = pruned_file_list(path, "o_custkey", lo=0, hi=10)
    assert total == 4
    assert len(files) == 1


def test_optimize_zorder_managed_table(spark, tmp_path):
    """OPTIMIZE ZORDER on a managed table: atomic versioned rewrite +
    refreshed skipping manifest; a range predicate on EITHER clustered
    column prunes most files, and the data survives byte-identical."""
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        pruned_file_list,
    )
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        optimize_zorder,
    )

    path = str(tmp_path / "t")
    grid = spark.range(4096).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
    )
    mt.initial_write(grid, path, keys=("id",))
    before = {tuple(r) for r in mt.read(spark, path).collect()}
    v0 = mt.table_version(path)

    # ~16 files of the 4096-row grid
    stats = optimize_zorder(
        spark, path, ["a", "b"], target_file_bytes=2000
    )
    assert stats["after"]["n_files"] >= 8

    # data identical, version bumped (pre-image time-travel readable)
    assert {tuple(r) for r in mt.read(spark, path).collect()} == before
    assert mt.table_version(path) == v0 + 1

    # a 1/8-span range on EITHER column must prune > half the files —
    # impossible for a single-column sort order, the Z-order payoff
    for col, lo, hi in (("a", 0, 7), ("b", 0, 7)):
        kept, total = pruned_file_list(path, col, lo, hi)
        assert len(kept) <= total / 2, (col, len(kept), total)


def _xy2d_ref(order, x, y):
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_is_a_curve(spark):
    """Spark chained-projection Hilbert == the Python recurrence on a
    full 32x32 grid, the mapping is bijective, and consecutive indices
    are unit-step neighbors (the locality property Morton lacks)."""
    from aws_callcenter_delta_lakehouse_spark.operators.layout import (
        with_hilbert_key,
    )

    order = 5
    pts = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.hilbert_key
        for r in with_hilbert_key(df, "x", "y", order=order).collect()
    }
    assert got == {(x, y): _xy2d_ref(order, x, y) for x, y in pts}
    byd = {d: xy for xy, d in got.items()}
    assert len(byd) == 1024  # bijective
    assert all(
        abs(byd[i][0] - byd[i + 1][0]) + abs(byd[i][1] - byd[i + 1][1]) == 1
        for i in range(1023)
    )


def test_hilbert_layout_tightens_file_spans(spark):
    """Range-partitioning on the Hilbert key bounds BOTH coordinates
    per output file: every file's (x, y) box must be far tighter than
    the full domain (the same skip-effectiveness measure as the
    Z-order test)."""
    from aws_callcenter_delta_lakehouse_spark.operators.layout import (
        hilbert_layout,
    )

    n = 1 << 10
    rows = spark.range(0, 4096).select(
        ((F.col("id") * 2654435761) % n).alias("x"),
        ((F.col("id") * 40503) % n).alias("y"),
    )
    laid = hilbert_layout(rows, "x", "y", num_files=16, order=10)
    spans = (
        laid.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    avg_sx = sum(r.sx for r in spans) / len(spans)
    avg_sy = sum(r.sy for r in spans) / len(spans)
    # random layout would give ~n spans on both axes; hilbert files
    # cover a compact curve segment, so both axes shrink
    assert avg_sx < n / 2 and avg_sy < n / 2


def test_bloom_manifest_prunes_point_lookups(spark, tmp_path):
    """Bloom skipping on a NON-clustered column: the table is clustered
    by date (min/max useless for key lookups), yet a point probe on the
    key touches ~1 file, an absent key prunes (almost) everything, and
    results always equal the full-scan answer (no false negatives)."""
    from aws_callcenter_delta_lakehouse_spark.operators.layout import (  # noqa: F401
        zorder_key,
    )
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        bloom_pruned_file_list,
        read_with_bloom_skipping,
        write_bloom_manifest,
        write_clustered,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("day"),
        (F.col("id") * 3).alias("v"),
    )
    # clustered by day -> every file holds a full spread of k values
    write_clustered(df, path, cluster_by=["day"], num_files=8)
    write_bloom_manifest(spark, path, ["k"], num_bits=16384, num_hashes=5)

    # present key: exact row found, most files bloom-pruned
    kept, total = bloom_pruned_file_list(spark, path, "k", 1234)
    assert total == 8
    assert len(kept) <= 3  # fp rate makes >2 extremely unlikely
    got = read_with_bloom_skipping(spark, path, "k", 1234).collect()
    assert [(r.k, r.v) for r in got] == [(1234, 3702)]

    # absent key: no false negatives possible, and pruning bites
    kept2, _ = bloom_pruned_file_list(spark, path, "k", 999_999)
    assert len(kept2) <= 2
    assert read_with_bloom_skipping(spark, path, "k", 999_999).count() == 0


def test_optimize_hilbert_managed_table(spark, tmp_path):
    """OPTIMIZE via Hilbert clustering: same atomic versioned rewrite
    and manifest refresh as the Z-order path, same both-column pruning
    payoff, data byte-identical."""
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        pruned_file_list,
    )
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        optimize_hilbert,
    )

    path = str(tmp_path / "t")
    grid = spark.range(4096).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
    )
    mt.initial_write(grid, path, keys=("id",))
    before = {tuple(r) for r in mt.read(spark, path).collect()}
    v0 = mt.table_version(path)

    stats = optimize_hilbert(spark, path, "a", "b", target_file_bytes=2000, order=6)
    assert stats["after"]["n_files"] >= 8

    assert {tuple(r) for r in mt.read(spark, path).collect()} == before
    assert mt.table_version(path) == v0 + 1

    for col, lo, hi in (("a", 0, 7), ("b", 0, 7)):
        kept, total = pruned_file_list(path, col, lo, hi)
        assert len(kept) <= total / 2, (col, len(kept), total)


def test_compact_binpack_rewrites_only_small_files(spark, tmp_path):
    """Incremental compaction: the right-sized file is CARRIED (same
    bytes, hard-linked), only the small-file tail is bin-packed, and
    the table's rows survive exactly."""
    import glob
    import os

    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        compact_binpack,
    )

    path = str(tmp_path / "t")
    big = spark.range(0, 200_000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    mt.initial_write(big.coalesce(1), path, keys=("id",))
    # accrete a small-file tail (append-only sink style)
    for i in range(6):
        spark.range(200_000 + i * 1000, 200_000 + (i + 1) * 1000).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.mode("append").parquet(path)

    before_files = {
        f: os.path.getsize(f) for f in glob.glob(path + "/*.parquet")
    }
    big_file = max(before_files, key=before_files.get)
    expected = {(i, i * 2) for i in range(206_000)}

    stats = compact_binpack(
        spark, path, target_file_bytes=400_000, small_file_bytes=200_000
    )
    assert stats["rewritten"] == 6 and stats["carried"] == 1
    after = glob.glob(path + "/*.parquet")
    assert len(after) == 2  # 1 carried + 1 packed bin
    assert os.path.basename(big_file) in {os.path.basename(f) for f in after}
    assert {
        (r.id, r.v) for r in mt.read(spark, path).collect()
    } == expected


def test_stale_stats_manifest_never_loses_rows(spark, tmp_path):
    """A file appended AFTER the manifest was written has no stats entry
    and must always be kept (fail open) — a stale manifest may cost
    pruning, never correctness. Also: manifest entries keyed by
    basename survive the commit rename (manifest written in a staging
    dir, directory moved)."""
    import os
    from pyspark.sql import functions as F
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        pruned_file_list, read_with_skipping, write_clustered,
        write_stats_manifest,
    )

    staging = str(tmp_path / "t__staging")
    path = str(tmp_path / "t")
    df = spark.range(1000).select(F.col("id").alias("k"))
    write_clustered(df, staging, ["k"], num_files=4)
    write_stats_manifest(staging, ["k"])
    os.rename(staging, path)  # the stage-and-swap commit move

    # pruning still works post-rename (basename matching)
    files, total = pruned_file_list(path, "k", lo=0, hi=10)
    assert total == 4 and len(files) == 1

    # fully-pruned range returns an empty frame with the right schema
    # (checked BEFORE the stale append: a stats-less file is always
    # kept, so afterwards nothing can fully prune)
    empty = read_with_skipping(spark, path, "k", lo=10**9, hi=None)
    assert empty.count() == 0 and empty.columns == ["k"]
    assert pruned_file_list(path, "k", lo=10**9)[0] == []

    # late append the manifest doesn't know about — values OUTSIDE
    # every manifest range, so a reader trusting the manifest blindly
    # would drop them
    late = spark.range(5000, 5010).select(F.col("id").alias("k"))
    late.coalesce(1).write.mode("append").parquet(path)
    got = read_with_skipping(spark, path, "k", lo=5000, hi=6000)
    assert got.count() == 10  # fail-open kept the unknown file


def test_bloom_manifest_folds_bitmaps_executor_side(spark, tmp_path):
    """Scale contract for the bloom builder: the driver receives ONE
    finished base64 bitmap per (file, column) — never raw hash-position
    sets — and the whole multi-column build is a single Spark pass
    (one job), so driver traffic is O(#files * #cols * num_bits/8)."""
    import base64
    import json

    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        write_bloom_manifest,
        write_clustered,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 31).alias("day"),
        F.concat(F.lit("u"), F.col("id")).alias("u"),
    )
    write_clustered(df, path, cluster_by=["day"], num_files=4)

    manifest, jobs = spark_jobs(
        spark,
        lambda: write_bloom_manifest(
            spark, path, ["k", "u"], num_bits=8192, num_hashes=4
        ),
    )
    assert jobs <= 4, jobs  # constant (AQE stage splits), not per-column

    with open(manifest) as fh:
        m = json.load(fh)
    assert len(m["files"]) == 4
    for entry in m["files"].values():
        assert set(entry) == {"k", "u"}
        for b64 in entry.values():
            # a finished 1 KB bitmap, not a position set
            assert len(base64.b64decode(b64)) == 8192 // 8


def test_compact_binpack_single_job_regardless_of_bins(spark, tmp_path):
    """Compaction wall-clock must scale with DATA, not bin count: many
    small files packing into several bins still launch a bounded number
    of Spark jobs (one read+shuffle+write), not one job per bin."""
    import glob
    import os

    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        compact_binpack,
    )

    path = str(tmp_path / "t")
    mt.initial_write(
        spark.range(0, 50_000).select(F.col("id")).coalesce(1),
        path,
        keys=("id",),
    )
    # 12 small appends -> several output bins at a small target
    for i in range(12):
        spark.range(50_000 + i * 2000, 50_000 + (i + 1) * 2000).select(
            F.col("id")
        ).coalesce(1).write.mode("append").parquet(path)

    stats, jobs = spark_jobs(
        spark,
        lambda: compact_binpack(
            spark, path, target_file_bytes=30_000, small_file_bytes=20_000
        ),
    )
    n_bins = stats["after"]["n_files"] - stats["carried"]
    assert n_bins >= 3  # the packing genuinely produced multiple bins
    assert jobs <= 5, (jobs, n_bins)  # independent of bin count
    assert stats["rewritten"] == 12
    assert {r.id for r in mt.read(spark, path).collect()} == set(range(74_000))
    assert len(glob.glob(path + "/*.parquet")) == stats["after"]["n_files"]


def test_optimize_if_degraded_triggers_and_converges(spark, tmp_path):
    """Liquid-style maintenance trigger: a clustered table appended with
    full-range files degrades its zone depth; optimize_if_degraded
    measures (driver metadata only), re-clusters once, and the next
    call is a no-op because depth recovered."""
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        write_stats_manifest,
    )
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        clustering_depth,
        optimize_if_degraded,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 8000).select(F.col("id").alias("k"))
    mt.initial_write(base.repartitionByRange(8, "k").sortWithinPartitions("k"), path, keys=("k",))
    write_stats_manifest(path, ["k"])
    d0 = clustering_depth(path, "k")
    assert d0["n_files"] >= 8 and d0["avg_depth"] <= 2.0, d0

    # interleaved appends: each new file spans the whole key range
    for i in range(4):
        spark.range(0, 8000, 97 + i).select(F.col("id").alias("k")).coalesce(
            1
        ).write.mode("append").parquet(path)
    write_stats_manifest(path, ["k"])
    degraded = clustering_depth(path, "k")
    assert degraded["avg_depth"] > 2.0, degraded

    # MEASURED skip rate on a narrow range probe while degraded: the
    # four appended files span the whole key range, so they are always
    # kept — pruning skips at most the disjoint base slices
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        pruned_file_list,
        read_with_skipping,
    )

    kept_before, total_before = pruned_file_list(path, "k", lo=100, hi=200)
    assert len(kept_before) >= 5, (len(kept_before), total_before)
    probe_rows = {r.k for r in read_with_skipping(spark, path, "k", 100, 200).collect()}

    out = optimize_if_degraded(spark, path, "k", max_avg_depth=2.0,
                               target_file_bytes=8000)
    assert out["reclustered"] is True
    assert out["depth_after"]["avg_depth"] <= 2.0, out

    # after the trigger the same probe touches almost nothing: depth
    # recovery is VISIBLE as pruned files, not just a metadata number
    kept_after, total_after = pruned_file_list(path, "k", lo=100, hi=200)
    assert len(kept_after) <= 2, (len(kept_after), total_after)
    assert len(kept_after) / total_after < len(kept_before) / total_before
    assert {
        r.k for r in read_with_skipping(spark, path, "k", 100, 200).collect()
    } == probe_rows  # pruning never changes answers
    # rows survived exactly
    expect = set(range(8000)) | {
        v for i in range(4) for v in range(0, 8000, 97 + i)
    }
    assert {r.k for r in mt.read(spark, path).collect()} == expect

    again = optimize_if_degraded(spark, path, "k", max_avg_depth=2.0)
    assert again["reclustered"] is False


def test_torn_manifests_fail_open(spark, tmp_path):
    """A truncated stats/bloom manifest must degrade to NO pruning
    (footer fallback / keep-all), never to an exception or a silent
    skip — the same fail-open contract as stale manifests."""
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        bloom_pruned_file_list,
        pruned_file_list,
        write_bloom_manifest,
        write_clustered,
        write_stats_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    write_clustered(df, path, cluster_by=["k"], num_files=4)
    write_stats_manifest(path, ["k"])
    write_bloom_manifest(spark, path, ["k"], num_bits=4096, num_hashes=3)

    for name in ("_stats_manifest.json", "_bloom_manifest.json"):
        with open(f"{path}/{name}", "w") as fh:
            fh.write('{"torn": ')

    kept, total = pruned_file_list(path, "k", lo=0, hi=10)
    assert total == 4 and len(kept) >= 1  # footer fallback still prunes
    bkept, btotal = bloom_pruned_file_list(spark, path, "k", 5)
    assert btotal == 4 and bkept == sorted(bkept) and len(bkept) == 4  # keep all


def test_incremental_manifest_updates_scan_only_new_files(spark, tmp_path):
    """Append-time index maintenance: update_stats_manifest /
    update_bloom_manifest touch only files the manifest doesn't know —
    existing entries carry over BYTE-IDENTICAL (proof no rescan
    happened), removed files drop out, pruning still works, and a
    geometry change is refused rather than silently mixed."""
    import json
    import os

    import pytest as _pytest

    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        bloom_pruned_file_list,
        pruned_file_list,
        update_bloom_manifest,
        update_stats_manifest,
        write_bloom_manifest,
        write_clustered,
        write_stats_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(F.col("id").alias("k"))
    write_clustered(df, path, cluster_by=["k"], num_files=4)
    write_stats_manifest(path, ["k"])
    write_bloom_manifest(spark, path, ["k"], num_bits=4096, num_hashes=3)
    with open(f"{path}/_stats_manifest.json") as fh:
        stats_before = {
            os.path.basename(e["file"]): e["stats"] for e in json.load(fh)
        }
    with open(f"{path}/_bloom_manifest.json") as fh:
        bloom_before = {
            os.path.basename(k): v
            for k, v in json.load(fh)["files"].items()
        }

    # append one new file with a disjoint key range
    spark.range(100_000, 101_000).select(F.col("id").alias("k")).coalesce(
        1
    ).write.mode("append").parquet(path)

    s = update_stats_manifest(path, ["k"])
    b = update_bloom_manifest(spark, path, ["k"], num_bits=4096, num_hashes=3)
    assert s["added"] == 1 and s["removed"] == 0 and s["total"] == 5
    assert b["added"] == 1 and b["removed"] == 0 and b["total"] == 5

    # old entries byte-identical (no rescan), new file covered
    with open(f"{path}/_stats_manifest.json") as fh:
        stats_after = {
            os.path.basename(e["file"]): e["stats"] for e in json.load(fh)
        }
    with open(f"{path}/_bloom_manifest.json") as fh:
        bloom_after = {
            os.path.basename(k): v
            for k, v in json.load(fh)["files"].items()
        }
    for base, st in stats_before.items():
        assert stats_after[base] == st
    for base, entry in bloom_before.items():
        assert bloom_after[base] == entry
    assert len(stats_after) == 5 and len(bloom_after) == 5

    # pruning: point query in the appended range touches ~1 file
    kept, total = pruned_file_list(path, "k", lo=100_500, hi=100_500)
    assert total == 5 and len(kept) == 1
    bkept, _ = bloom_pruned_file_list(spark, path, "k", 100_500)
    assert len(bkept) <= 2

    # remove a file -> entry drops
    removed = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(path, removed))
    s2 = update_stats_manifest(path, ["k"])
    assert s2["removed"] == 1 and s2["total"] == 4

    # geometry change refused
    with _pytest.raises(ValueError, match="geometry"):
        update_bloom_manifest(spark, path, ["k"], num_bits=8192, num_hashes=3)


def test_compact_binpack_refreshes_existing_indexes(spark, tmp_path):
    """Compaction must leave existing skipping manifests usable: the
    carried big file's entries survive, the packed bin gets fresh
    entries, dead small-file entries drop — point pruning works right
    after the compaction with no manual refresh."""
    import glob
    import json
    import os

    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        bloom_pruned_file_list,
        pruned_file_list,
        write_bloom_manifest,
        write_stats_manifest,
    )
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        compact_binpack,
    )

    path = str(tmp_path / "t")
    mt.initial_write(
        spark.range(0, 100_000).select(F.col("id").alias("k")).coalesce(1),
        path,
        keys=("k",),
    )
    for i in range(4):
        spark.range(200_000 + i * 500, 200_000 + (i + 1) * 500).select(
            F.col("id").alias("k")
        ).coalesce(1).write.mode("append").parquet(path)
    write_stats_manifest(path, ["k"])
    write_bloom_manifest(spark, path, ["k"], num_bits=4096, num_hashes=3)

    stats = compact_binpack(
        spark, path, target_file_bytes=500_000, small_file_bytes=100_000
    )
    assert stats["rewritten"] == 4 and stats["carried"] == 1

    n_files = len(glob.glob(path + "/*.parquet"))
    with open(f"{path}/_stats_manifest.json") as fh:
        assert len(json.load(fh)) == n_files  # in sync, no dead entries
    with open(f"{path}/_bloom_manifest.json") as fh:
        assert len(json.load(fh)["files"]) == n_files

    # pruning still correct post-compaction: big-file range vs bin range
    kept, total = pruned_file_list(path, "k", lo=200_100, hi=200_100)
    assert total == n_files and len(kept) == 1
    bkept, _ = bloom_pruned_file_list(spark, path, "k", 50)
    assert len(bkept) <= n_files - 1  # the bin (200k-202k keys) pruned


def test_compact_where_single_job_regardless_of_partitions(spark, tmp_path):
    """Partition-scoped compaction must be ONE Spark job over all
    selected partition dirs (plus per-dir metadata renames) — a
    job-per-directory loop scales wall-clock with partition count,
    the same flaw class fixed for compact_binpack's bins."""
    import glob
    import os

    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        compact,
    )

    path = str(tmp_path / "pt")
    df = spark.createDataFrame(
        [(i, i % 10, f"v{i}") for i in range(2000)],
        "id long, bucket long, v string",
    )
    df.repartition(6).write.partitionBy("bucket").parquet(path)

    _, jobs = spark_jobs(
        spark,
        lambda: compact(
            spark,
            path,
            partition_by=("bucket",),
            where="bucket < 8",
            target_file_bytes=10**9,
        ),
    )
    assert jobs <= 8, jobs  # constant (metadata + distinct + AQE write), not per-dir
    # 8 partitions compacted to 1 file each, 2 untouched
    for b in range(8):
        assert len(glob.glob(os.path.join(path, f"bucket={b}", "*.parquet"))) == 1
    assert spark.read.parquet(path).count() == 2000
    assert glob.glob(f"{path}__*") == []


def test_dml_rewrite_preserves_index_declaration(spark, tmp_path):
    """A merge/delete rewrite must not silently drop the skipping-index
    declaration: the manifest sidecars carry into the new snapshot (all
    entries stale -> reads fail open), and one incremental update
    re-indexes the new files for the declared columns."""
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        pruned_file_list,
        update_stats_manifest,
        write_clustered,
        write_stats_manifest,
    )

    path = str(tmp_path / "t")
    mt.initial_write(
        spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v"), path,
        keys=("k",),
    )
    # cluster + index (rewrite the managed table's files clustered)
    df = mt.read(spark, path)
    write_clustered(df, path + "__tmp", cluster_by=["k"], num_files=4)
    import glob
    import os as _os
    import shutil

    for f in glob.glob(path + "/*.parquet"):
        _os.remove(f)
    for f in glob.glob(path + "__tmp/*.parquet"):
        shutil.move(f, path)
    shutil.rmtree(path + "__tmp")
    write_stats_manifest(path, ["k"])

    # DML rewrite
    delta = spark.createDataFrame([(5, 999)], "k long, v long")
    mt.merge_upsert(spark, path, delta, keys=("k",))

    # the commit itself re-indexed the declared column from the staged
    # footers (r6): the manifest is FRESH at publish — every current
    # file has an entry, no stale entries, no separate re-index job
    # (the rewrite de-clusters k, so pruning EFFICACY isn't asserted
    # here — freshness is; clustering is optimize_zorder's job)
    assert _os.path.exists(path + "/_stats_manifest.json")
    kept, total = pruned_file_list(path, "k", lo=0, hi=1)
    assert total >= 1
    stats = update_stats_manifest(path, ["k"])
    assert stats["added"] == 0 and stats["removed"] == 0
    # rows intact
    assert mt.read(spark, path).count() == 2000


def test_stats_manifest_fresh_across_dml_chain(spark, tmp_path):
    """Commit-time index maintenance (r6): after any DML — rewrite
    merge, DV update (appended post-images indexed incrementally), DV
    delete (hardlinks keep their entries) — the stats manifest is
    already fresh: an incremental update finds nothing to add or
    remove."""
    from pyspark.sql import functions as F

    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        update_stats_manifest,
        write_stats_manifest,
    )

    path = str(tmp_path / "t")
    mt.initial_write(
        spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v"), path,
        keys=("k",),
    )
    write_stats_manifest(path, ["k"])
    mt.merge_upsert(
        spark, path, spark.createDataFrame([(5, 1)], "k long, v long"),
        keys=("k",),
    )
    s = update_stats_manifest(path, ["k"])
    assert s["added"] == 0 and s["removed"] == 0
    mt.update_where(
        spark, path, "k = 7", {"v": F.lit(0)}, deletion_vectors=True
    )
    s = update_stats_manifest(path, ["k"])
    assert s["added"] == 0 and s["removed"] == 0
    mt.delete_where(spark, path, "k = 9", deletion_vectors=True)
    s = update_stats_manifest(path, ["k"])
    assert s["added"] == 0 and s["removed"] == 0


def test_auto_optimize_property_triggers_on_degrading_commit(spark, tmp_path):
    """Databricks-style auto-optimize as a TABLE PROPERTY (r6): with
    autoOptimize declared, a rewriting commit that scatters the
    clustered column (the merge shuffle hashes on k) is followed
    automatically by the liquid trigger — depth probe (metadata only),
    re-cluster commit only because this commit degraded the layout.
    No scheduler, no manual OPTIMIZE call."""
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.layout import (
        write_stats_manifest,
    )
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        clustering_depth,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 8000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    mt.commit_overwrite(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        path,
        keys=("k",),
        properties={"autoOptimize": {"column": "k", "max_avg_depth": 2.0}},
    )
    write_stats_manifest(path, ["k"])
    assert clustering_depth(path, "k")["avg_depth"] <= 2.0

    # a round-robin rewrite: every output file spans the whole k range
    mt.commit_overwrite(mt.read(spark, path).repartition(6), path)
    # the rewrite (v1) degraded the layout; its trigger re-clustered (v2)
    assert mt.table_version(path) == 2
    assert clustering_depth(path, "k")["avg_depth"] <= 2.0
    assert mt.read(spark, path).count() == 8000
    # a commit that does NOT degrade the layout triggers nothing
    v = mt.table_version(path)
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        optimize_if_degraded,
    )

    assert optimize_if_degraded(spark, path, "k", 2.0)["reclustered"] is False
    assert mt.table_version(path) == v


def test_optimize_preserves_txn_metadata(spark, tmp_path):
    """OPTIMIZE (manual or auto-triggered) is data-preserving, so the
    txn metadata exactly-once sinks rely on must survive it — a reset
    last_epoch would replay committed epochs after an optimize lands
    mid-stream."""
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from aws_callcenter_delta_lakehouse_spark.sources.maintenance import (
        optimize_zorder,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 500).selectExpr("id AS k", "id AS v")
    mt.commit_overwrite(df, path, keys=("k",), txn={"last_epoch": 7})
    optimize_zorder(spark, path, ["k"], target_file_bytes=4000)
    assert mt.table_txn(path) == {"last_epoch": 7}
