"""Product quantization (Jégou et al., TPAMI 2011) — the compressed-
domain ANN path: each vector splits into ``m`` subvectors, each subvector
is encoded as its nearest (L2) centroid from a per-subspace codebook of
``num_codes`` entries, and queries score candidates with Asymmetric
Distance Computation (ADC): a per-query lookup table of
``m x num_codes`` exact sub-dot-products, summed by code index.

Why this matters at 100 TB: the corpus compresses from ``dim`` floats to
``m`` codes per vector (~32x here), so the scan that ranks candidates
moves 1-2 orders of magnitude fewer bytes — and every step below is a
pure projection over a broadcast codebook. No corpus shuffle anywhere:

- training: the corpus-sized pass is one explode + hash aggregate per
  Lloyd iteration (map-side partial means, like ``kmeans_refine``);
- encoding: per-subspace argmin over the broadcast codebook
  (``array_min`` over scored structs, the IVF-assignment pattern);
- search: one broadcast join of the (single-row) query LUT, then
  ``aggregate`` over the code array + TakeOrderedAndProject.

Vectors are L2-normalized before encoding so ADC dot-product ranking
equals cosine ranking (up to the query's own constant norm).

Determinism: codebooks seed from the ``num_codes`` lowest-id vectors
and refine with Lloyd means — no RNG anywhere, so results reproduce
across runs and engines (the recall tests rely on it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import set_checkpoint_dir

from .similarity import dot, norm


def _dot_flat(a: Column, b: Column, d: int) -> Column:
    """Fixed-width dot product unrolled to d explicit products. For the
    small subvector widths PQ uses (d_sub = dim/m, 4-8 here) this keeps
    the codegen tree a flat arithmetic expression instead of m *
    num_codes nested aggregate/zip_with loops — the loop machinery, not
    the arithmetic, dominated plan compilation (the full train+encode
    plan carries ~256 of these)."""
    terms = [
        a.getItem(i).cast("double") * b.getItem(i).cast("double") for i in range(d)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _normalize(df: DataFrame, id_cols: list[str], vec_col: str) -> DataFrame:
    """L2-normalize; the norm is materialized as its own column BEFORE
    the transform lambda (trap #1: an aggregate referenced inside a
    higher-order lambda re-evaluates per element)."""
    withn = df.select(*id_cols, vec_col, norm(F.col(vec_col)).alias("__n"))
    return withn.select(
        *id_cols,
        F.when(
            F.col("__n") > 0,
            F.transform(vec_col, lambda x: x.cast("double") / F.col("__n")),
        )
        .otherwise(F.transform(vec_col, lambda x: F.lit(0.0)))
        .alias(vec_col),
    )


def _with_subs(df: DataFrame, vec_col: str, m: int, d_sub: int) -> DataFrame:
    """Materialize the m subvector slices as their own columns first
    (same trap: a slice inside the scoring lambda would re-slice per
    codebook entry)."""
    return df.withColumns(
        {f"__sub_{s}": F.slice(vec_col, s * d_sub + 1, d_sub) for s in range(m)}
    )


def _codebook_row(codebook: DataFrame, m: int) -> DataFrame:
    """Fold the (m * num_codes)-row codebook into ONE broadcastable row
    with one PER-SUBSPACE array column ``__cb_{s}`` of (j, cvec, halfsq)
    structs sorted by j. Splitting by subspace at BUILD time (m rows
    filtered once) keeps the per-corpus-row argmin lambda touching
    exactly num_codes elements — a flat (s, j) array would make every
    row's encode visit m*num_codes elements per subspace (m x redundant
    work, and a far larger codegen tree). halfsq = |c|^2 / 2 precomputes
    the L2-argmin rewrite: argmin |x-c|^2 = argmin (|c|^2/2 - x.c)."""
    half = F.aggregate(
        "cvec", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    ) / 2.0
    rows = codebook.select("s", "j", "cvec", half.alias("halfsq"))
    return rows.groupBy().agg(
        *[
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("s") == s, F.struct("j", "cvec", "halfsq")
                    )
                )
            ).alias(f"__cb_{s}")
            for s in range(m)
        ]
    )


def _code_col(s: int, d_sub: int) -> Column:
    """Argmin code for subspace ``s``: score each centroid of the
    subspace's broadcast array against the materialized __sub_s column,
    lexicographic min of (distance, j). Every dot here is required work
    (one per centroid); nothing loop-invariant sits in the lambda."""
    scored = F.transform(
        F.col(f"__cb_{s}"),
        lambda e: F.named_struct(
            F.lit("d"),
            e["halfsq"] - _dot_flat(F.col(f"__sub_{s}"), e["cvec"], d_sub),
            F.lit("j"),
            e["j"],
        ),
    )
    return F.array_min(scored)["j"].cast("int")


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    num_codes: int = 16,
    iterations: int = 1,
    checkpoint_dir: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Train per-subspace codebooks: seed centroid (s, j) with the
    j-th lowest-id vector's s-th subvector, then run Lloyd iterations
    jointly over all subspaces (one corpus pass each: encode, then mean
    per (s, code, pos) with map-side combine — the shuffle is
    m * num_codes * d_sub doubles, independent of corpus size).
    Returns (s, j, cvec).

    ``checkpoint_dir``: when set, per-round codebook materialization is
    a RELIABLE ``df.checkpoint()`` (cluster-safe — an executor loss
    mid-training recomputes from the checkpoint, not from the seed
    chain); when None, executor-local ``localCheckpoint``. Same
    contract as ``connected_components``/``kmeans_refine``.

    ``normalize=False`` trains on the raw vectors — the IVF-PQ path
    passes residuals, whose magnitude IS the signal (re-normalizing
    them would blow small residuals up to unit length)."""
    set_checkpoint_dir(corpus.sparkSession, checkpoint_dir)

    def _materialize(d: DataFrame) -> DataFrame:
        return (
            d.checkpoint()
            if checkpoint_dir is not None
            else d.localCheckpoint(eager=True)
        )

    d_sub = dim // m
    normed = (
        _normalize(corpus, [id_col], vec_col)
        if normalize
        else corpus.select(id_col, vec_col)
    )
    # ONE pass over the head: explode the m subvectors per seed row (a
    # per-subspace union would re-execute the TakeOrdered head m times)
    seeds = _with_subs(normed.orderBy(id_col).limit(num_codes), vec_col, m, d_sub)
    exploded = seeds.select(
        F.col(id_col).alias("__seed_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"), F.col(f"__sub_{s}").alias("cvec")
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("__seed_id", "e.s", "e.cvec")
    # dense j = count of strictly-smaller seed ids (the id set is the
    # same in every subspace, so rank once) — broadcast triangular
    # join over the tiny head; no window
    ids = seeds.select(F.col(id_col).alias("__seed_id"))
    smaller = ids.select(F.col("__seed_id").alias("__id2"))
    ranks = (
        ids.join(F.broadcast(smaller), F.col("__id2") < F.col("__seed_id"), "left")
        .groupBy("__seed_id")
        .agg(F.count("__id2").cast("int").alias("j"))
    )
    # eager: the codebook feeds >=2 consumers (encode + query LUT, or
    # the next Lloyd round) — without materialization each one would
    # re-derive the whole seed chain
    codebook = _materialize(
        exploded.join(F.broadcast(ranks), "__seed_id").select("s", "j", "cvec")
    )
    for _ in range(iterations):
        encoded = pq_encode(normed, codebook, id_col, vec_col, dim, m)
        member_subs = encoded.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col("codes")[s].alias("j"),
                            F.col(f"__sub_{s}").alias("sub"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        ).select("e.s", "e.j", F.posexplode("e.sub").alias("pos", "val"))
        means = (
            member_subs.groupBy("s", "j", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("mval"))
            .groupBy("s", "j")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
            .select("s", "j", F.transform("pm", lambda e: e["mval"]).alias("new_cvec"))
        )
        # empty cells keep their previous centroid; eager materialization
        # so each downstream broadcast doesn't re-derive the whole
        # refinement lineage (same rationale as kmeans_refine)
        codebook = _materialize(
            codebook.join(means, ["s", "j"], "left")
            .select("s", "j", F.coalesce("new_cvec", "cvec").alias("cvec"))
        )
    return codebook


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
) -> DataFrame:
    """Encode every (already normalized) vector as its m
    nearest-subcentroid codes — a zero-shuffle projection over the
    broadcast codebook. Keeps the __sub_* columns (training reuses
    them); search-path callers select (id, codes)."""
    d_sub = dim // m
    subs = _with_subs(corpus, vec_col, m, d_sub)
    withcb = subs.join(F.broadcast(_codebook_row(codebook, m)))
    return withcb.withColumn(
        "codes", F.array(*[_code_col(s, d_sub) for s in range(m)])
    ).drop(*[f"__cb_{s}" for s in range(m)])


def pq_topk(
    corpus: DataFrame,
    query_vec_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    num_codes: int = 16,
    k: int = 10,
    iterations: int = 1,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """ADC top-k for ONE query row (column ``q``): the query side builds
    the m x num_codes LUT of exact sub-dot-products (single broadcast
    row), every encoded corpus vector scores as an ``aggregate`` over
    its code array — a table-indexed sum, no vector math per candidate
    — and the top k is TakeOrderedAndProject.

    Approximate by construction (quantization error): rows-only; recall
    pinned against ``brute_force_topk`` in tests. ``checkpoint_dir``
    threads through to :func:`pq_train`."""
    d_sub = dim // m
    # normalize the corpus ONCE and cut: training and encoding both
    # consume it — uncut, the full corpus normalization ran twice
    # (r13 opt, guide §2.4); identical math (pq_train(normalize=True)
    # computes exactly this frame internally)
    normed = _normalize(corpus, [id_col], vec_col).localCheckpoint(eager=False)
    codebook = pq_train(
        normed, id_col, vec_col, dim, m, num_codes, iterations,
        checkpoint_dir=checkpoint_dir, normalize=False,
    )
    encoded = pq_encode(normed, codebook, id_col, vec_col, dim, m).select(
        id_col, "codes"
    )

    # query needs no normalization: its norm scales every ADC score by
    # the same positive constant and cannot change the ranking
    q = _with_subs(query_vec_df.select(F.col("q").alias(vec_col)), vec_col, m, d_sub)
    # LUT layout matches the code layout: entry s*num_codes + j (each
    # per-subspace array is j-sorted, concatenated in subspace order)
    def _sub_lut(s: int):
        # closure factory, NOT a default-arg lambda: a two-parameter
        # lambda would make transform() treat the second parameter as
        # the element-index Column
        return F.transform(
            F.col(f"__cb_{s}"),
            lambda e: _dot_flat(F.col(f"__sub_{s}"), e["cvec"], d_sub),
        )

    qlut = q.join(F.broadcast(_codebook_row(codebook, m))).select(
        F.concat(*[_sub_lut(s) for s in range(m)]).alias("__lut")
    )
    scored = encoded.join(F.broadcast(qlut)).select(
        id_col,
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.col("__lut"),
                (s * num_codes + F.try_element_at("codes", (s + 1).cast("int")) + 1).cast(
                    "int"
                ),
            ),
        ).alias("adc_score"),
    )
    return scored.orderBy(F.desc("adc_score"), F.asc(id_col)).limit(k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    dim: int = 64,
    m: int = 8,
    num_codes: int = 16,
    num_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    iterations: int = 0,
    refine_iterations: int = 0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al., TPAMI 2011 §IV) — the coarse-quantizer +
    residual-PQ composition that is THE standard billion-scale ANN
    layout (FAISS ``IVFx,PQy``): IVF restricts each query to ``nprobe``
    cells so the scan touches nprobe/num_centroids of the corpus, and
    within a cell candidates are ranked from ``m`` one-byte codes of
    the RESIDUAL v̂ − ĉ instead of the raw vector — residuals cluster
    far tighter than raw vectors, so the same codebook budget spends
    its precision where vectors actually differ from their cell.

    Decomposition: dot(q, v̂) = dot(q, ĉ) + dot(q, v̂ − ĉ). The first
    term is exact per probed cell (``__base``); the second is the ADC
    LUT sum over the residual codebook. At zero quantization error the
    score IS the exact cosine ranking score, so recall degrades only
    through (a) unprobed cells and (b) residual quantization — each
    independently tunable (nprobe, m × num_codes).

    Scale shape — nothing here shuffles the corpus:
    - assignment + encoding: zero-shuffle projections over broadcast
      centroid/codebook rows (the pinned IVF-assignment pattern);
    - the per-(query, probe) LUT table has |queries| × nprobe rows and
      is BROADCAST onto the encoded corpus — the candidate scan is a
      map-side join touching only probed cells (written partitioned by
      ``centroid_id``, the probe join prunes partitions);
    - per-query top-k windows over candidate rows only.

    Approximate by construction — rows-only in the registry; recall
    pinned against ``brute_force_topk`` in ``tests/test_pq.py``.
    ``checkpoint_dir`` makes every iterative/multi-consumer
    materialization a reliable ``checkpoint()`` (cluster fault
    tolerance), matching ``pq_train``/``kmeans_refine``."""
    from pyspark.sql import Window

    from .similarity import (
        _assign,
        _centroid_array,
        _nearest_centroids,
        ivf_index,
        kmeans_refine,
    )

    d_sub = dim // m
    # cut once: the coarse-centroid head and the assignment projection
    # both consume the normalized corpus (r13 opt)
    normed = _normalize(corpus, [id_col], vec_col).localCheckpoint(eager=False)
    centroids, _ = ivf_index(normed, id_col, vec_col, num_centroids)
    if refine_iterations > 0:
        centroids = kmeans_refine(
            normed, centroids, id_col, vec_col, refine_iterations, checkpoint_dir
        )
    # normalize the centroids ONCE: assignment argmax and the
    # base-plus-residual decomposition then share the same cell
    # representative ĉ, which is what makes base + ADC == dot(q, v̂)
    # exact at zero quantization error
    cn = centroids.select(
        "centroid_id", "centroid_vec", norm(F.col("centroid_vec")).alias("__n")
    ).select(
        "centroid_id",
        F.transform(
            "centroid_vec", lambda x: x.cast("double") / F.col("__n")
        ).alias("centroid_vec"),
        # cut once (16 rows): cn is broadcast at four sites (assignment,
        # residual join, probe selection, probe decomposition) — uncut,
        # each broadcast re-derived the centroid head pipeline
    ).localCheckpoint(eager=False)
    assigned = _assign(normed, cn, id_col, vec_col)
    resid = assigned.join(F.broadcast(cn), "centroid_id").select(
        id_col,
        "centroid_id",
        F.zip_with(
            vec_col, "centroid_vec", lambda a, b: a.cast("double") - b
        ).alias("__res"),
    )
    # residuals feed BOTH codebook training and encoding — materialize
    # once (reliable when checkpoint_dir is set) instead of paying the
    # normalize+assign lineage per consumer
    if checkpoint_dir is not None:
        set_checkpoint_dir(resid.sparkSession, checkpoint_dir)
        resid = resid.checkpoint(eager=True)
    else:
        resid = resid.localCheckpoint(eager=True)
    codebook = pq_train(
        resid, id_col, "__res", dim, m, num_codes, iterations,
        checkpoint_dir=checkpoint_dir, normalize=False,
    )
    encoded = pq_encode(resid, codebook, id_col, "__res", dim, m).select(
        id_col, "centroid_id", "codes"
    )

    probes = (
        queries.join(F.broadcast(_centroid_array(cn)))
        .select(
            query_id_col,
            query_vec_col,
            F.explode(
                F.slice(
                    F.array_sort(_nearest_centroids(query_vec_col)), 1, nprobe
                )
            ).alias("__p"),
        )
        .select(
            query_id_col,
            query_vec_col,
            F.col("__p.centroid_id").alias("centroid_id"),
        )
    )
    probe = probes.join(F.broadcast(cn), "centroid_id").select(
        query_id_col,
        "centroid_id",
        dot(F.col(query_vec_col), F.col("centroid_vec")).alias("__base"),
        F.zip_with(
            query_vec_col, "centroid_vec", lambda a, b: a.cast("double") - b
        ).alias("__qr"),
    )
    probe = _with_subs(probe, "__qr", m, d_sub)

    def _probe_lut(s: int):
        # closure factory (see pq_topk): a default-arg lambda would bind
        # transform()'s second parameter to the element index
        return F.transform(
            F.col(f"__cb_{s}"),
            lambda e: _dot_flat(F.col(f"__sub_{s}"), e["cvec"], d_sub),
        )

    lut = probe.join(F.broadcast(_codebook_row(codebook, m))).select(
        query_id_col,
        "centroid_id",
        "__base",
        F.concat(*[_probe_lut(s) for s in range(m)]).alias("__lut"),
    )
    scored = encoded.join(F.broadcast(lut), "centroid_id").select(
        query_id_col,
        F.col(id_col),
        (
            F.col("__base")
            + F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(
                    F.col("__lut"),
                    (
                        s * num_codes
                        + F.try_element_at("codes", (s + 1).cast("int"))
                        + 1
                    ).cast("int"),
                ),
            )
        ).alias("adc_score"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
