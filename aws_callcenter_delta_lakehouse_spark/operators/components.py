"""Connected components over a pair graph — near-dup CLUSTERING.

Pairwise near-dup detection (dedup.py) yields edges; curation needs
clusters ("these 5 docs are all the same article") and one canonical
representative per cluster. Component id := min doc id reachable.

Algorithm: iterative min-label propagation in pure DataFrame ops —
each round, every vertex takes the min of its own label and its
neighbors' labels; stop when no label changed. Rounds = graph diameter
(near-dup clusters are shallow — a handful of rounds); each round is
one join + one aggregate, all shuffles on the vertex key. The driver
loop checks only a scalar convergence count per round — no data is
collected.

Fault tolerance: iterative algorithms must truncate lineage each round
(else the plan grows unboundedly), which severs Spark's recompute path.
``localCheckpoint`` (the local-mode default) stores the blocks on
executors — an executor loss mid-iteration kills the job. On a real
cluster pass ``checkpoint_dir``: each round is then a RELIABLE
``df.checkpoint()`` to HDFS/S3, surviving any executor loss.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import cut_once, set_checkpoint_dir


def _cut_once(df: DataFrame) -> DataFrame:
    """Cut a multi-referenced edge derivation exactly once — Spark
    re-executes non-exchange subtrees per reference, so the cut halves
    the edge-derivation work (r13 opt, guide §2.4). Delegates to the
    shared :func:`operators.materialize.cut_once` (reliable-checkpoint
    capable via ``spark.managedTable.cutCheckpointDir``, releasable via
    ``materialize.release_cuts`` — r13 verdict item 3)."""
    return cut_once(df)


class ConvergenceError(RuntimeError):
    """Label propagation exhausted max_iterations without converging —
    the returned labels would be silently WRONG (partially propagated)."""


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """(vertex, component) for every vertex appearing in ``edges``;
    component = min vertex id in the connected component.

    ``checkpoint_dir``: when set, per-round materialization uses
    reliable ``df.checkpoint()`` into that directory (cluster-safe);
    when None, executor-local ``localCheckpoint`` (fine on local mode /
    when executor loss is acceptable as a job retry).

    ``on_nonconverged``: "raise" (default — non-converged labels are
    wrong labels) or "warn" if the caller prefers the partial result.
    Convergence needs ~graph-diameter rounds; near-dup clusters are
    shallow, so hitting 25 usually means a pathological chain graph.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError("on_nonconverged must be 'raise' or 'warn'")

    set_checkpoint_dir(edges.sparkSession, checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        # truncate lineage: reliable checkpoint on a cluster, local
        # blocks otherwise
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    # Materialize the edge list ONCE — without this every iteration
    # re-executes the (possibly expensive) upstream plan that produced
    # the edges, e.g. a full MinHash-LSH pipeline. The input itself is
    # ALSO cut first: the symmetrizing union references it twice.
    edges = _cut_once(edges)
    sym = _materialize(
        edges.select(F.col(src).alias("v"), F.col(dst).alias("u"))
        .union(edges.select(F.col(dst).alias("v"), F.col(src).alias("u")))
        .distinct()
    )
    labels = _materialize(
        sym.select("v").distinct().withColumn("component", F.col("v"))
    )

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels.withColumnsRenamed({"v": "u", "component": "u_comp"}), on="u")
            .groupBy("v")
            .agg(F.min("u_comp").alias("n_comp"))
        )
        updated = _materialize(
            labels.join(neighbor_min, on="v", how="left")
            .select(
                "v",
                F.least(
                    F.col("component"), F.coalesce("n_comp", F.col("component"))
                ).alias("component"),
                (F.coalesce("n_comp", F.col("component")) < F.col("component")).alias(
                    "__changed"
                ),
            )
        )
        changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            "iterations — labels are partially propagated (wrong). "
            "Raise max_iterations (rounds needed ~= graph diameter)."
        )
        if on_nonconverged == "raise":
            raise ConvergenceError(msg)
        warnings.warn(msg, RuntimeWarning)
    return labels.select(F.col("v"), "component")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge DataFrame — the other iterative
    graph primitive a curation pipeline wants (authority scoring for
    source/domain weighting, seed selection).

    Power iteration in pure DataFrame ops: per round, each vertex ships
    rank/out_degree along its out-edges (one join keyed on src), sinks
    sum contributions (one aggregate keyed on dst), dangling mass and
    teleport fold in as scalars. Shuffle per round = 2 hash exchanges
    on the vertex key; lineage truncates per round exactly like
    ``connected_components`` (reliable checkpoint when ``checkpoint_dir``
    is set, localCheckpoint otherwise).

    Returns (vertex, rank); ranks sum to n_vertices (the "sum = N"
    convention, so a rank of 1.0 is the uniform baseline).
    """
    set_checkpoint_dir(edges.sparkSession, checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    e = _materialize(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    )
    vertices = _materialize(
        e.select(F.col("s").alias("v")).union(e.select(F.col("d").alias("v"))).distinct()
    )
    n = vertices.count()
    # loop-invariant: materialize once — the per-iteration dangling
    # probe AND the contribution join both read it (uncut, the degree
    # aggregate re-ran twice per iteration; r13 opt)
    out_deg = _materialize(e.groupBy("s").agg(F.count("*").alias("out_deg")))
    ranks = vertices.withColumn("rank", F.lit(1.0))

    for _ in range(iterations):
        # NOTE (r13 opt): contribs is consumed twice (dangling probe +
        # contribution join). A per-iteration materialization was tried
        # and measured SLOWER (extra job per round outweighs the
        # re-joined rank⋈out_deg, which reads two already-materialized
        # inputs) — left unmaterialized deliberately.
        contribs = (
            ranks.join(out_deg, ranks["v"] == out_deg["s"], how="left")
            .select(
                "v",
                "rank",
                "out_deg",
                (F.col("rank") / F.col("out_deg")).alias("share"),
            )
        )
        # dangling vertices (no out-edges) spread their rank uniformly
        dangling = (
            contribs.filter(F.col("out_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
            .first()[0]
        )
        inbound = (
            e.join(contribs.select(F.col("v").alias("s"), "share"), on="s")
            .groupBy("d")
            .agg(F.sum("share").alias("in_share"))
        )
        base = (1.0 - damping) + damping * dangling / n
        ranks = _materialize(
            vertices.join(inbound, vertices["v"] == inbound["d"], how="left")
            .select(
                "v",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("in_share", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def cluster_summary(components: DataFrame) -> DataFrame:
    """Per-cluster rollup: size + canonical representative (the min id,
    which IS the component id)."""
    return components.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.min("v").alias("representative"),
    )


def triangle_count(edges: DataFrame, a_col: str = "s1", b_col: str = "s2") -> DataFrame:
    """Exact triangle count over an undirected edge list (one row per
    edge, ``a_col < b_col``), node-iterator++ (Suri & Vassilvitskii,
    WWW 2011): orient every edge from its lower-(degree, id) endpoint
    to the higher one, enumerate wedges at each edge's source, and close
    them against the oriented edge set.

    Scale (100 TB): orientation bounds oriented out-degree by
    O(sqrt(m)) on ANY graph, so the wedge set is at most m^1.5 — never
    sum(degree²), which is what kills the naive formulation on hubs.
    Three shuffles total: the degree aggregate, the wedge self-join on
    the source vertex, and the closing-edge join. Returns a single-row
    (n_triangles) DataFrame — only a scalar reaches the driver."""
    u, v = F.col("__u"), F.col("__v")
    # cut the (possibly expensive) edge derivation once: it feeds both
    # arms of the degree union AND the orientation join — uncut, the
    # caller's edge pipeline executes three times (r13 opt, guide §2.4)
    edges = _cut_once(edges)
    deg = (
        edges.select(F.col(a_col).alias("__x"))
        .unionAll(edges.select(F.col(b_col).alias("__x")))
        .groupBy("__x")
        .agg(F.count("*").alias("__d"))
    )
    withdeg = (
        edges.join(deg.select(F.col("__x").alias(a_col), F.col("__d").alias("__da")), a_col)
        .join(deg.select(F.col("__x").alias(b_col), F.col("__d").alias("__db")), b_col)
    )
    ra = F.struct(F.col("__da").alias("d"), F.col(a_col).cast("long").alias("i"))
    rb = F.struct(F.col("__db").alias("d"), F.col(b_col).cast("long").alias("i"))
    # oriented feeds the wedge self-join (both sides) and the closing-
    # edge join — cut it once too (3 references)
    oriented = withdeg.select(
        F.when(ra < rb, F.col(a_col)).otherwise(F.col(b_col)).alias("__u"),
        F.when(ra < rb, F.col(b_col)).otherwise(F.col(a_col)).alias("__v"),
        F.when(ra < rb, rb).otherwise(ra).alias("__rv"),
    )
    oriented = _cut_once(oriented)
    a = oriented.select(u.alias("__wu"), v.alias("__x1"), F.col("__rv").alias("__r1"))
    b = oriented.select(u.alias("__wu2"), v.alias("__x2"), F.col("__rv").alias("__r2"))
    wedges = a.join(
        b,
        (F.col("__wu") == F.col("__wu2")) & (F.col("__r1") < F.col("__r2")),
    ).select("__x1", "__x2")
    closing = oriented.select(
        F.col("__u").alias("__x1"), F.col("__v").alias("__x2")
    )
    return wedges.join(closing, ["__x1", "__x2"]).agg(
        F.count("*").alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop
    vertices with (undirected) degree < k and the edges touching them
    until the graph is stable; the survivors are exactly the k-core.
    Returns (vertex, degree) of the core members.

    Per round: one symmetrized degree aggregate + two semi-joins to
    keep only edges between surviving vertices — all shuffles on the
    vertex key, only the scalar survivor count crosses to the driver.
    Rounds are bounded by the peel depth (the degeneracy ordering
    length), typically tens even on huge graphs. Lineage is truncated
    per round exactly as in ``connected_components`` (reliable
    ``checkpoint`` when ``checkpoint_dir`` is set)."""
    spark = edges.sparkSession
    set_checkpoint_dir(spark, checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if checkpoint_dir is not None
            else df.localCheckpoint(eager=True)
        )

    # undirected: symmetrize once, self-loops contribute nothing to core
    # (input cut first — the union references it twice)
    edges = _cut_once(edges)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        .distinct()
    )
    live = _truncate(sym)
    prev_edges = live.count()
    for _ in range(max_iterations):
        deg = live.groupBy("a").agg(F.count("*").alias("degree"))
        # persist/unpersist per round: both semi-joins below consume the
        # survivor set — uncached, the degree aggregate ran twice per
        # peel round (r13 opt). persist (not localCheckpoint) because a
        # long peel would otherwise pin one unreleasable survivor-set
        # copy PER ROUND for the session's lifetime (r13 advice);
        # _truncate(live) is EAGER, so keep is fully consumed before the
        # unpersist below.
        keep = deg.filter(F.col("degree") >= k).select("a").persist()
        live = _truncate(
            live.join(keep, on="a", how="left_semi").join(
                keep.withColumnRenamed("a", "b"), on="b", how="left_semi"
            )
        )
        keep.unpersist()
        n_edges = live.count()
        if n_edges == prev_edges:
            return (
                live.groupBy("a")
                .agg(F.count("*").alias("degree"))
                .select(F.col("a").alias("vertex"), "degree")
            )
        prev_edges = n_edges
        if n_edges == 0:
            return live.select(
                F.col("a").alias("vertex"), F.lit(0).cast("long").alias("degree")
            )
    raise ConvergenceError(
        f"kcore did not stabilize within {max_iterations} rounds"
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over an undirected edge list — the non-overlapping
    community primitive a corpus pipeline uses to group near-duplicate
    *clusters* into topical/site-level families (coarser-grained control
    than ``connected_components``, which only merges touching vertices).

    Determinized: labels init to the vertex id; each round every vertex
    adopts its neighbors' MOST FREQUENT label, ties broken by the
    smallest label (``max_by`` over ``struct(count, -label)`` — no
    random visit order, so the result is reproducible). Synchronous LPA
    can oscillate on bipartite-ish structures (on a clean bipartite
    graph the two sides swap labels every round and NEVER converge —
    run it on the unipartite projection instead, as
    ``graph_community_labels`` does), so the loop is bounded by
    ``max_iterations`` and also early-stops on a fixed point.

    Per round: one join keyed on the vertex + two aggregates — the same
    shuffle shape as ``connected_components``; lineage truncates per
    round (reliable ``checkpoint`` when ``checkpoint_dir`` is given,
    ``localCheckpoint`` otherwise). Only a scalar change-count reaches
    the driver. Returns (v, label).
    """
    set_checkpoint_dir(edges.sparkSession, checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    edges = _cut_once(edges)  # the symmetrizing union reads it twice
    sym = _materialize(
        edges.select(F.col(src).alias("v"), F.col(dst).alias("u"))
        .union(edges.select(F.col(dst).alias("v"), F.col(src).alias("u")))
        .filter(F.col("v") != F.col("u"))
        .distinct()
    )
    labels = _materialize(sym.select("v").distinct().withColumn("label", F.col("v")))

    for _ in range(max_iterations):
        nbr = sym.join(
            labels.withColumnsRenamed({"v": "u", "label": "u_label"}), on="u"
        )
        counts = nbr.groupBy("v", "u_label").agg(F.count("*").alias("cnt"))
        new_labels = counts.groupBy("v").agg(
            F.max_by(
                "u_label", F.struct(F.col("cnt"), (-F.col("u_label")).alias("neg"))
            ).alias("label")
        )
        updated = _materialize(
            labels.withColumnRenamed("label", "old_label")
            .join(new_labels, on="v")
            .select(
                "v",
                "label",
                (F.col("label") != F.col("old_label")).alias("__changed"),
            )
        )
        changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if changed == 0:
            break
    return labels


def bfs_hops(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Single-source BFS hop distances over a DIRECTED edge set (pass
    both directions for an undirected graph). Returns (vertex, hops)
    for every vertex reachable within ``max_hops``.

    Frontier expansion in pure DataFrame ops: each round joins the
    CURRENT frontier (not the whole visited set) to the edge list, anti-
    joins out already-visited vertices, and stops early when the
    frontier empties. Per-round shuffle = |frontier ⋈ edges| — the
    textbook level-synchronous BFS; lineage truncates per round like
    ``connected_components`` (reliable ``checkpoint_dir`` on a cluster,
    ``localCheckpoint`` locally). Only a scalar emptiness probe reaches
    the driver each round.

    Deterministic: hop distance is a pure graph property; the bounded
    horizon (``max_hops``) is what makes a DuckDB recursive-CTE oracle
    of the same graph terminate, so this operator is differentially
    testable unlike most iterative graph code.
    """
    spark = edges.sparkSession
    set_checkpoint_dir(spark, checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    # materialize the edge set ONCE: every round joins against it, and
    # an unmaterialized lineage would re-derive the (possibly expensive)
    # upstream edge computation per round AND per emptiness probe
    e = _materialize(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).distinct()
    )
    dist = _materialize(
        spark.createDataFrame([(source, 0)], "vertex long, hops int")
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["vertex"] == e["__s"])
            .select(F.col("__d").alias("vertex"))
            .distinct()
            .join(dist, "vertex", "left_anti")
            .select("vertex", F.lit(h).alias("hops"))
        )
        nxt = _materialize(nxt)
        if nxt.isEmpty():
            break
        dist = _materialize(dist.unionAll(nxt))
        frontier = nxt
    return dist


def sssp_weighted(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded-horizon single-source shortest paths over a DIRECTED
    weighted edge set — Bellman-Ford relaxation in pure DataFrame ops.
    Returns (vertex, dist) for every vertex reachable within
    ``max_hops`` edges.

    After round k, ``dist[v]`` is EXACTLY the minimum cost over paths
    of <= k edges — the invariant that makes this oracle-checkable: a
    hop-bounded recursive-CTE path enumeration (DuckDB) computes the
    same min on a sparse graph. Like ``bfs_hops``, each round is
    frontier-only: only vertices whose distance IMPROVED last round
    can improve a neighbor this round, so the per-round shuffle is
    |frontier ⋈ edges| + one min-aggregate, with early exit when no
    distance improves. Integer weights stay exact; lineage truncates
    per round (reliable ``checkpoint_dir`` on a cluster).
    """
    spark = edges.sparkSession
    set_checkpoint_dir(spark, checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    e = _materialize(
        edges.select(
            F.col(src).alias("__s"),
            F.col(dst).alias("__d"),
            F.col(weight).cast("long").alias("__w"),
        )
    )
    dist = _materialize(
        spark.createDataFrame([(source, 0)], "vertex long, dist long")
    )
    frontier = dist
    for _ in range(max_hops):
        cand = (
            frontier.join(e, frontier["vertex"] == e["__s"])
            .select(
                F.col("__d").alias("vertex"),
                (frontier["dist"] + F.col("__w")).alias("cand"),
            )
            .groupBy("vertex")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            cand.join(dist, "vertex", "left_outer")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("vertex", F.col("cand").alias("dist"))
        )
        improved = _materialize(improved)
        if improved.isEmpty():
            break
        dist = _materialize(
            dist.unionByName(improved)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = improved
    return dist


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "seed",
    max_hops: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """:func:`bfs_hops` from SEVERAL sources at once — the building
    block of sampled centrality (closeness/harmonic over k seeds) and
    multi-origin reachability. State is (seed, vertex, hops); every
    seed's frontier advances in the SAME level-synchronous round, so k
    sources cost one BFS's round count with a k-way-wider frontier
    join — never k sequential traversals. Same lineage-truncation and
    early-exit discipline as :func:`bfs_hops`; returns (seed, vertex,
    hops) for every pair reachable within ``max_hops``."""
    spark = edges.sparkSession
    set_checkpoint_dir(spark, checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint()
            if checkpoint_dir is not None
            else df.localCheckpoint()
        )

    e = _materialize(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .distinct()
    )
    dist = _materialize(
        seeds.select(
            F.col(seed_col).alias("seed"),
            F.col(seed_col).alias("vertex"),
            F.lit(0).alias("hops"),
        ).distinct()
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["vertex"] == e["__s"])
            .select("seed", F.col("__d").alias("vertex"))
            .distinct()
            .join(dist, ["seed", "vertex"], "left_anti")
            .select("seed", "vertex", F.lit(h).alias("hops"))
        )
        nxt = _materialize(nxt)
        if nxt.isEmpty():
            break
        dist = _materialize(dist.unionAll(nxt))
        frontier = nxt
    return dist
