"""Tenth LLM-pipeline batch: embedding dimensionality reduction and
graph communities.

- embedding_random_projection — seeded Rademacher (±1) JL projection
  64→8, oracle-checked: the sign matrix derives from an LCG formula
  both engines can evaluate, so the DuckDB oracle rebuilds the exact
  matrix as list literals and must match bit-for-bit after portable
  rounding.
- embedding_pca_scores — distributed two-moment PCA (numpy eigh on one
  64×64 row), first two component scores per vector; rows-only (LAPACK
  eigenvectors are not SQL-expressible) with a numpy parity test in
  tests/test_projection.py.
- graph_community_labels — deterministic synchronous label propagation
  over the customer–supplier purchase graph; oracle-checked against a
  per-round CTE unroll of the same integer-exact loop (absorbing
  fixed point makes "unroll 8" ≡ "early-stop"), structure additionally
  pinned on handcrafted graphs in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel
from ..functions.scalars import round_portable
from ..operators.materialize import cut_once
from ..operators.projection import pca_fit, pca_transform, rademacher_matrix, random_project
from .registry import query

_RP_DIM, _RP_K = 64, 8
_RP_SIGNS = rademacher_matrix(_RP_DIM, _RP_K)


def _rp_oracle() -> str:
    """DuckDB oracle for the Rademacher projection: one list-literal dot
    product per output dim, same left-to-right fold order as Spark's
    ``aggregate``, rounded with the shared portable formula."""
    terms = []
    for j in range(_RP_K):
        lst = "[" + ",".join(str(int(s)) for s in _RP_SIGNS[j]) + "]"
        terms.append(
            f"floor(list_sum(list_transform(range(1, {_RP_DIM + 1}), i -> "
            f"CAST(embedding[i] AS DOUBLE) * ({lst}[i]))) * 1e6 + 0.5) / 1e6"
            f" AS p{j}"
        )
    return "SELECT vec_id, " + ", ".join(terms) + " FROM embeddings"


@query("embedding_random_projection", oracle=_rp_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→8 with a deterministic
    Rademacher matrix (Achlioptas 2001): a pure JVM-side narrow
    projection (zip_with + aggregate per output dim) — no shuffle, no
    Python, scan-bound at 100 TB. Distance preservation pinned in
    tests/test_projection.py."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    out = random_project(emb, "embedding", dim=_RP_DIM, k=_RP_K, prefix="__rp")
    return out.select(
        "vec_id",
        *[
            round_portable(F.col(f"__rp{j}"), 6).alias(f"p{j}")
            for j in range(_RP_K)
        ],
    )


@query("embedding_pca_scores")  # LAPACK eigh — rows-only + parity test
def embedding_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA scores (first 2 components) for every embedding: sufficient
    statistics (n, Σx, Σxxᵀ) reduced fully distributed, eigh on the
    single 64×64 covariance row, projection JVM-side against the
    broadcast components. Parity vs numpy full PCA + explained-variance
    ordering pinned in tests/test_projection.py."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", dim=64, k=2)
    scores = pca_transform(emb, model, "embedding", k=2)
    return scores.select(
        "vec_id",
        round_portable(F.col("pc1"), 4).alias("pc1"),
        round_portable(F.col("pc2"), 4).alias("pc2"),
    )


def _lpa_oracle(rounds: int = 8) -> str:
    """DuckDB oracle for graph_community_labels: the synchronous LPA
    loop unrolled as one CTE per round (CLAUDE.md trap #12 pattern —
    multi-field iterative state never goes through list_reduce).

    Exactness argument: every quantity is an integer (labels are
    vertex ids, votes are counts), the tie-break (count DESC, label
    ASC) is total, and a synchronous-LPA fixed point is absorbing — if
    Spark's loop early-stops at round k < 8, rounds k+1..8 of the
    unroll are identity maps, so "always unroll 8" equals "stop at the
    fixed point". The only double in the pipeline is the p95 edge
    threshold; both engines interpolate over the same integers with
    the same (n-1)·p indexing, and integer weights can only straddle
    the threshold when the interpolation is exact, so the edge set
    matches bit-for-bit."""
    parts = [
        """
    WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem),
    cop AS (
      SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2),
    thr AS (SELECT quantile_cont(w, 0.95) AS t FROM cop),
    edges AS (SELECT src, dst FROM cop, thr WHERE w >= t),
    sym AS (
      SELECT DISTINCT v, u FROM (
        SELECT src AS v, dst AS u FROM edges
        UNION ALL SELECT dst AS v, src AS u FROM edges)
      WHERE v <> u),
    r0 AS (SELECT DISTINCT v, v AS label FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    r{i} AS (
      SELECT v, u_label AS label FROM (
        SELECT v, u_label, ROW_NUMBER() OVER (
            PARTITION BY v ORDER BY cnt DESC, u_label ASC) AS rn
        FROM (
          SELECT s.v AS v, p.label AS u_label, COUNT(*) AS cnt
          FROM sym s JOIN r{i - 1} p ON p.v = s.u
          GROUP BY 1, 2) c) t
      WHERE rn = 1)"""
        )
    parts.append(
        f"""
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(v) AS representative
    FROM r{rounds}
    GROUP BY label
    ORDER BY n_members DESC, label ASC
    LIMIT 20"""
    )
    return "".join(parts)


@query("graph_community_labels", oracle=_lpa_oracle(8))
def graph_community_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities of the supplier co-purchase graph:
    suppliers are linked when they ship lines of the SAME order (the
    unipartite projection of the bipartite order–supplier graph — sync
    LPA oscillates on bipartite input, see the operator docstring;
    the projection is also the graph whose communities mean something:
    suppliers repeatedly bought together). The projection of a dense
    basket graph is near-complete, so only the top-5% heaviest edges
    (co-occurrence count ≥ the exact p95, a scale-relative threshold)
    are kept. Output: the 20 largest communities with size and
    smallest-member representative. Deterministic (min-label tie-break,
    fixed max rounds). Note: this synthetic corpus assigns suppliers to
    lineitems uniformly at random, so the correct output here is one
    giant community — recovery of real structure (cliques, bridges) is
    pinned on handcrafted graphs in tests/test_projection.py."""
    from ..operators.components import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    # cut once: the p95 threshold probe AND the edge filter both
    # read it — uncut, the projection self-join ran twice (r13 opt)
    copurchase = cut_once(
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    thr = copurchase.agg(
        F.expr("percentile(w, 0.95)").alias("__thr")
    )
    edges = (
        copurchase.join(F.broadcast(thr))
        .filter(F.col("w") >= F.col("__thr"))
        .select("src", "dst")
    )
    labels = label_propagation(edges, max_iterations=8)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("n_members"), F.min("v").alias("representative"))
        .orderBy(F.desc("n_members"), F.asc("label"))
        .limit(20)
    )
