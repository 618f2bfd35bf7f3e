"""Deduplication operators for large-scale training-data pipelines.

Engine extension surface (BASELINE.json north star; the reference's only
dedup-adjacent machinery is the MERGE key-uniqueness guarantee,
01_silver_delta_upsert.py:104-108). All operators are pure DataFrame
built-ins — no Python UDFs — so they whole-stage-codegen and scale:

- exact_dedup            hash groupBy on a normalized key (1 shuffle)
- shingle / minhash LSH  explode -> 64 xxhash64 mins -> banded buckets;
                         shuffle carries candidate PAIRS only
- verify_jaccard         exact n-gram Jaccard on candidate pairs
- simhash                64 signed bit-sums per doc + banded Hamming
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import cut_once

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (the min id) per duplicate group — a deterministic
    ``dropDuplicates``. One hash-aggregate shuffle on the key."""
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=[*key_cols, id_col], how="left_semi")


# ---------------------------------------------------------------------------
# Word n-gram shingles + exact Jaccard
# ---------------------------------------------------------------------------


def shingle(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs: word n-grams. Docs with < n words produce no
    rows (matching the SQL-oracle formulation).

    ``distinct=True`` (set semantics) is required for Jaccard; the
    MinHash signature path passes ``distinct=False`` — min() is
    duplicate-insensitive, so it saves a whole shuffle.

    The split is materialized in its OWN projection before the gram
    lambda: referencing ``split(text)`` inside the lambda re-evaluates
    the split per gram element ×n (no CSE across lambda invocations —
    CLAUDE.md perf trap 1)."""
    split_df = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
    ).filter(F.size("__w") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__w") - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("__w"), i + j) for j in range(n)]
        ),
    )
    out = split_df.select(F.col(id_col), F.explode(grams).alias("sh"))
    return out.distinct() if distinct else out


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for doc pairs.

    With ``candidates`` (d1/d2 columns) only those pairs are scored —
    the LSH verify path. Without, all pairs sharing >= 1 shingle are
    scored, and ``max_shingle_df`` is REQUIRED: shingles appearing in
    more than that many documents are excluded from the pair join
    (standard df-blocking from the dedup literature — a shingle shared
    by d documents contributes d^2/2 pair rows, so one hot 3-gram over
    millions of docs is a trillion-row join). Per-doc set sizes
    (denominators) still count every shingle, so the score is a
    conservative lower bound on true Jaccard; pairs whose overlap is
    exclusively hot shingles are the deliberate trade.
    Returns (d1, d2, jaccard).
    """
    if candidates is None and max_shingle_df is None:
        raise ValueError(
            "jaccard_pairs without candidates needs max_shingle_df: an "
            "unblocked shared-shingle self-join is quadratic in the "
            "documents sharing a hot shingle"
        )
    # the shingle table feeds sizes + the df-cap agg + both pair-join
    # sides — cut it once (no-op when the caller already checkpointed)
    shingles = cut_once(shingles)
    # true set sizes — computed BEFORE any df cap
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    if candidates is not None:
        # The candidate plan is referenced THREE times below (both arms
        # of the cand_docs union + the pair semi-join); Spark does not
        # reuse non-exchange subtrees across branches, so an
        # unmaterialized candidate pipeline (typically the whole
        # MinHash-LSH banding) would re-execute per reference.
        # Materialize it once — candidates are a tiny (d1, d2) table.
        candidates = cut_once(candidates)
        # prune the shingle set to candidate docs BEFORE the pair join —
        # at scale this is the difference between |candidates| work and
        # |corpus|^2 work.
        cand_docs = (
            candidates.select(F.col("d1").alias(id_col))
            .union(candidates.select(F.col("d2").alias(id_col)))
            .distinct()
        )
        shingles = shingles.join(cand_docs, on=id_col, how="left_semi")
    if max_shingle_df is not None:
        hot = (
            shingles.groupBy("sh")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("sh")
        )
        shingles = shingles.join(hot, on="sh", how="left_anti")
    a = shingles.select(F.col(id_col).alias("d1"), "sh")
    b = shingles.select(F.col(id_col).alias("d2"), "sh")
    pair_rows = a.join(b, on="sh").filter(F.col("d1") < F.col("d2"))
    if candidates is not None:
        pair_rows = pair_rows.join(
            candidates.select("d1", "d2"), on=["d1", "d2"], how="left_semi"
        )
    inter = pair_rows.groupBy("d1", "d2").agg(F.count("*").alias("k"))
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "d1", "n": "n1"}), on="d1")
        .join(sizes.withColumnsRenamed({id_col: "d2", "n": "n2"}), on="d2")
        .select(
            "d1",
            "d2",
            (F.col("k") / (F.col("n1") + F.col("n2") - F.col("k"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """DIRECTIONAL n-gram containment: |A ∩ B| / |A| for ordered pairs
    (src, dst) — the quote/subset detector Jaccard misses. A short doc
    fully embedded in a long one has tiny Jaccard (union is dominated
    by the long doc) but containment(src=short) = 1.0; dedup pipelines
    use it to strip quoted/recycled passages and supersets.

    Same df-blocking as :func:`jaccard_pairs` (REQUIRED — the shared-
    shingle self-join is quadratic in a hot shingle's document
    frequency); denominators count every shingle of the SOURCE doc, so
    the score is a conservative lower bound when hot shingles are
    dropped. Returns (src, dst, containment) for src != dst — both
    directions score independently (containment is asymmetric).
    """
    if max_shingle_df is None:
        raise ValueError(
            "containment_pairs needs max_shingle_df: an unblocked "
            "shared-shingle self-join is quadratic in the documents "
            "sharing a hot shingle"
        )
    # sizes + df-cap agg + both directional join sides read the shingle
    # table — cut it once (guide §2.4)
    shingles = cut_once(shingles)
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    hot = (
        shingles.groupBy("sh")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_shingle_df)
        .select("sh")
    )
    kept = shingles.join(hot, on="sh", how="left_anti")
    a = kept.select(F.col(id_col).alias("src"), "sh")
    b = kept.select(F.col(id_col).alias("dst"), "sh")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("k"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "src", "n": "n_src"}), on="src")
        .select(
            "src",
            "dst",
            (F.col("k") / F.col("n_src")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def prefix_filter_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering (AllPairs,
    Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) — the third
    point in the dedup design space: ``jaccard_pairs`` is exact but
    needs a df-cap (lossy on hot-shingle overlap), MinHash-LSH is
    uncapped but probabilistic; this is exact AND uncapped.

    Tokens are ordered by ascending global document frequency (rarest
    first, ties by token text — any consistent total order works); each
    document emits only its first ``|x| − ⌈τ|x|⌉ + 1`` tokens as join
    keys. Completeness: if J(A,B) ≥ τ and neither prefix shared a
    token, every common token lies past both prefixes, so
    |A∩B| ≤ |A| − L_A = ⌈τ|A|⌉ − 1 < τ|A| ≤ J·max(|A|,|B|) ≤ |A∩B| —
    contradiction. Rare-first ordering makes the candidate join fan
    out on the LOWEST-frequency tokens, which is what bounds the
    shuffle: a stopword shingle never becomes a join key unless a doc
    is almost entirely stopwords.

    τ is passed as a FRACTION (num/den) and the accept test is integer
    cross-multiplication ``den·|A∩B| ≥ num·|A∪B|`` — no float
    threshold, so the boundary pair at exactly τ is decided identically
    in any engine. Returns (d1, d2, inter_size, union_size, jaccard).

    Shuffle ledger: token-frequency agg + per-doc sort (one shuffle on
    id), prefix-token candidate join, candidate-pair aggregate, two id
    joins to ship the sorted arrays for the exact
    ``array_intersect`` verify. Pair work is Σ prefix-df² — the
    frequency ordering drives that toward the theoretical minimum.

    Two integer-only PPJoin prunes run on the candidate table BEFORE
    any token array is shipped (at sf0.1 they cut 300k raw candidates
    to a few thousand verifications — the verify join was 70% of
    runtime unpruned):
    - size compatibility: J ≥ τ forces τ·max(|A|,|B|) ≤ min(|A|,|B|),
      i.e. ``p·max ≤ q·min`` — applied map-side on the join output;
    - positional bound: positions are monotone in the global order, so
      the minimum matching prefix positions (i, j) belong to the
      globally-first common token, every common token sits at
      position ≥ i in A and ≥ j in B, and the overlap can't exceed
      ``min(|A|−i, |B|−j)``; J ≥ τ needs ``(p+q)·o ≥ p·(|A|+|B|)``,
      so pairs whose bound fails that test drop without a verify."""
    p, q = int(threshold_num), int(threshold_den)
    if not (0 < p <= q):
        raise ValueError("threshold must be a fraction in (0, 1]")
    # the raw shingle pipeline feeds both the frequency agg and the
    # per-doc ordering join — cut it once (guide §2.4)
    shingles = cut_once(shingles)
    freq = shingles.groupBy("sh").agg(F.count("*").alias("__df"))
    ordered = (
        shingles.join(freq, on="sh")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("__df").alias("f"), F.col("sh").alias("t"))
                )
            ).alias("__o")
        )
        .select(
            F.col(id_col),
            F.transform("__o", lambda s: s["t"]).alias("__toks"),
            F.size("__o").alias("__n"),
        )
    )
    # consumed by prefix + both verify joins
    ordered = cut_once(ordered)
    prefix_len = F.expr(f"__n - ((__n * {p} + {q - 1}) DIV {q}) + 1")
    prefix = ordered.select(
        F.col(id_col),
        F.col("__n"),
        F.posexplode(F.slice("__toks", F.lit(1), prefix_len)).alias(
            "__pos", "tok"
        ),
    )
    a_pref = prefix.select(
        F.col(id_col).alias("d1"),
        F.col("__n").alias("__na"),
        F.col("__pos").alias("__pa"),
        "tok",
    )
    b_pref = prefix.select(
        F.col(id_col).alias("d2"),
        F.col("__n").alias("__nb"),
        F.col("__pos").alias("__pb"),
        "tok",
    )
    cand = (
        a_pref.join(b_pref, on="tok")
        .filter(F.col("d1") < F.col("d2"))
        .filter(  # size compatibility — map-side, before the pair agg
            (F.lit(p) * F.col("__na") <= F.lit(q) * F.col("__nb"))
            & (F.lit(p) * F.col("__nb") <= F.lit(q) * F.col("__na"))
        )
        .groupBy("d1", "d2")
        .agg(
            F.min("__pa").alias("__pa"),
            F.min("__pb").alias("__pb"),
            F.first("__na").alias("__na"),  # constant within the group
            F.first("__nb").alias("__nb"),
        )
        .filter(  # positional overlap upper bound
            F.lit(p + q)
            * F.least(
                F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
            )
            >= F.lit(p) * (F.col("__na") + F.col("__nb"))
        )
        .select("d1", "d2")
    )
    a = ordered.select(
        F.col(id_col).alias("d1"),
        F.col("__toks").alias("__ta"),
        F.col("__n").alias("__na"),
    )
    b = ordered.select(
        F.col(id_col).alias("d2"),
        F.col("__toks").alias("__tb"),
        F.col("__n").alias("__nb"),
    )
    scored = (
        cand.join(a, on="d1")
        .join(b, on="d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("__ta", "__tb")).cast("bigint").alias(
                "inter_size"
            ),
            (F.col("__na") + F.col("__nb")).cast("bigint").alias("__sum"),
        )
        .select(
            "d1",
            "d2",
            "inter_size",
            (F.col("__sum") - F.col("inter_size")).alias("union_size"),
        )
        .filter(
            F.lit(q) * F.col("inter_size") >= F.lit(p) * F.col("union_size")
        )
    )
    return scored.select(
        "d1",
        "d2",
        "inter_size",
        "union_size",
        (
            F.col("inter_size").cast("double")
            / F.col("union_size").cast("double")
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(
    shingles: DataFrame, id_col: str, num_hashes: int = 64
) -> DataFrame:
    """64 permutation-min hashes per doc: h_i = min(xxhash64(base, i))
    where base = xxhash64(shingle). Hashing the (variable-length) string
    once and permuting the 8-byte base is ~n_hashes× cheaper than
    re-hashing the string per permutation. One shuffle (the groupBy,
    with map-side partial min); all codegen'd, no UDF."""
    base = F.xxhash64("sh")
    hashed = shingles.select(
        id_col,
        *[F.xxhash64(base, F.lit(i)).alias(f"h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )


def lsh_band_buckets(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, bucket) — each doc's ``bands`` band-bucket hashes.
    This IS the persistable LSH index: store it once per corpus shard
    and incremental dedup probes it without re-signaturing the corpus
    (:func:`minhash_lsh_incremental_pairs`)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
                    F.lit(b),
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band bucket
    become a candidate pair. P(candidate | jaccard=s) = 1-(1-s^r)^b —
    16x4 gives ~.9998 recall at s=0.9. Shuffle = (doc, band) rows, then
    pairs within buckets only."""
    # Materialize the banded buckets once: the self-join below consumes
    # the SAME subtree on both sides, and without a cut the entire
    # shingle -> 64-hash signature pipeline executes twice (once per
    # join side — broadcast vs stream sides never share a subtree).
    buckets = cut_once(
        lsh_band_buckets(signatures, id_col, bands, rows_per_band)
    )
    l = buckets.select(F.col(id_col).alias("d1"), "band", "bucket")
    r = buckets.select(F.col(id_col).alias("d2"), "band", "bucket")
    return (
        l.join(r, on=["band", "bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH candidates ->
    exact-Jaccard verify. Output (d1, d2, jaccard) with jaccard >=
    threshold. False positives are eliminated by the verify step; false
    negatives are bounded by the banding curve."""
    # ONE shingle pass feeds both signatures and the verify step:
    # min() over duplicates equals min() over the distinct set, so the
    # distinct table (which Jaccard needs anyway) is materialized once
    # instead of re-scanning + re-shingling the corpus per consumer.
    sh = cut_once(shingle(df, id_col, text_col, n, distinct=True))
    sigs = minhash_signature(sh, id_col, num_hashes)
    cands = lsh_candidates(sigs, id_col, bands, num_hashes // bands)
    return jaccard_pairs(sh, id_col, candidates=cands, threshold=threshold)


def minhash_lsh_probe_pairs(
    index_buckets: DataFrame,
    index_shingles: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """INCREMENTAL near-dup detection: probe an arriving shard against a
    stored LSH index without re-signaturing the indexed corpus.

    ``index_buckets``: the persisted ``lsh_band_buckets`` table of the
    corpus (one (id, band, bucket) row per band per doc);
    ``index_shingles``: the persisted distinct-shingle table (for the
    exact-Jaccard verify). Both are written ONCE when a shard is
    ingested, so adding N new docs to a T-doc corpus costs
    O(N * bands) probe rows + the verify joins — never O(T). This is
    the only shape that works at 100 TB: the corpus-side work happened
    at ingest, amortized across arrivals.

    Candidates are every (new, indexed-or-new) pair sharing a band
    bucket — new-vs-new pairs are included (an arriving shard can
    self-duplicate). Returns (d1, d2, jaccard >= threshold) with
    d1 < d2, exactly like the batch pipeline.
    """
    rows_per_band = num_hashes // bands
    # shingle the (small) arriving shard once; reused by signatures and
    # the verify union below
    new_sh = cut_once(
        shingle(incoming, id_col, text_col, n, distinct=True)
    )
    new_sigs = minhash_signature(new_sh, id_col, num_hashes)
    # referenced twice (probe union + the probing side of the bucket
    # join) — cut once so the arriving shard is signatured once
    new_buckets = cut_once(
        lsh_band_buckets(new_sigs, id_col, bands, rows_per_band)
    )
    probe_side = index_buckets.unionByName(new_buckets)
    cands = (
        new_buckets.select(F.col(id_col).alias("__new"), "band", "bucket")
        .join(
            probe_side.select(F.col(id_col).alias("__other"), "band", "bucket"),
            on=["band", "bucket"],
        )
        .filter(F.col("__new") != F.col("__other"))
        .select(
            F.least("__new", "__other").alias("d1"),
            F.greatest("__new", "__other").alias("d2"),
        )
        .distinct()
    )
    all_shingles = index_shingles.unionByName(new_sh)
    return jaccard_pairs(all_shingles, id_col, candidates=cands, threshold=threshold)


def minhash_lsh_incremental_pairs(
    indexed: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Convenience wrapper over :func:`minhash_lsh_probe_pairs` that
    builds the index tables inline from ``indexed`` (production stores
    them; ``tests/test_llm_operators.py`` exercises the stored-index
    path through a managed table)."""
    idx_sh = cut_once(
        shingle(indexed, id_col, text_col, n, distinct=True)
    )
    sigs = minhash_signature(idx_sh, id_col, num_hashes)
    return minhash_lsh_probe_pairs(
        lsh_band_buckets(sigs, id_col, bands, num_hashes // bands),
        idx_sh,
        incoming,
        id_col,
        text_col,
        n,
        threshold,
        num_hashes,
        bands,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash over word unigrams: per bit, sum +-1 weighted by the
    word-hash bit, sign -> fingerprint bit. Wide (``bits`` agg columns)
    but a single shuffle and fully codegen'd.

    ``portable=True`` hashes words with the low 60 bits of md5 instead
    of xxhash64 (identical value in DuckDB/Trino — makes the whole
    near-dup query oracle-checkable; pass ``bits=60`` with it). The
    xxhash64 default stays the cheap production path."""
    # Materialize the word hash ONCE before the aggregate: referencing
    # the hash expr inside all 64 agg expressions would recompute the
    # hash per bit (no CSE across independent aggregate expressions) —
    # same class of bug as the per-element lambda trap (CLAUDE.md perf
    # trap #1).
    word_hash = (
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint")
        if portable
        else F.xxhash64("w")
    )
    words = df.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).select(id_col, word_hash.alias("__h"))
    h = F.col("__h")
    sums = words.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        bit = F.shiftleft((F.col(f"b{i}") > 0).cast("long"), i)
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return sums.select(id_col, fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into
    ``bits/chunks``-bit chunks (pigeonhole: hamming <= chunks-1 pairs
    share >= 1 chunk), bucket-join, verify with bit_count(xor).
    EXACT for hamming <= chunks-1 — banding loses nothing, so the
    portable variant diffs against an all-pairs SQL oracle."""
    fps = simhash(df, id_col, text_col, bits=bits, portable=portable)
    width = bits // chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bucket"),
            )
            for c in range(chunks)
        ]
    )
    # cut once: the self-join consumes this subtree on both sides, and
    # uncut the whole word-hash + 60-column sum aggregate runs twice
    buckets = cut_once(
        fps.select(id_col, "simhash", F.explode(chunk_structs).alias("cb")).select(
            id_col, "simhash", F.col("cb.chunk").alias("chunk"), F.col("cb.bucket").alias("bucket")
        )
    )
    l = buckets.select(F.col(id_col).alias("d1"), F.col("simhash").alias("s1"), "chunk", "bucket")
    r = buckets.select(F.col(id_col).alias("d2"), F.col("simhash").alias("s2"), "chunk", "bucket")
    return (
        l.join(r, on=["chunk", "bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Exact substring-level duplication (token-window formulation)
# ---------------------------------------------------------------------------


def substring_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    portable: bool = False,
) -> DataFrame:
    """Exact substring-level duplication profile — the token-window
    formulation of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): a k-token window is DUPLICATED when the
    identical window occurs in >= 2 distinct documents. One row per
    document containing at least one duplicated window:
    ``(id, n_tokens, dup_windows, dup_tokens)`` where ``dup_tokens`` is
    the size of the UNION of the duplicated ``[pos, pos+k)`` intervals
    (overlaps merged, never double-counted) — the token mass a
    substring-level deduper would cut from the document.

    100 TB design: windows are hashed BEFORE the shuffle (xxhash64;
    ``portable=True`` swaps in the low 60 bits of md5 so the whole
    query diffs against a SQL oracle — CLAUDE.md portable-hash
    pattern), so raw text never shuffles. The duplicated-hash set is a
    hash-aggregate with an early ``countDistinct(id) >= 2`` filter; the
    join back to (id, pos, hash) carries 8-byte keys only. The interval
    merge is a per-document fold over the sorted position list (bounded
    by document length) — pure built-ins end to end, no Python workers.

    The window array is materialized in its OWN projection and exploded
    with ``posexplode_outer`` (perf traps 1 and 7: lambda re-evaluation
    / InferFiltersFromGenerate inlining)."""

    def _whash(s):
        if portable:
            return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
        return F.xxhash64(s)

    toks = (
        df.select(
            F.col(id_col), F.split(F.trim(F.col(text_col)), " ").alias("__w")
        )
        .select(id_col, "__w", F.size("__w").alias("__n"))
        .filter(F.col("__n") >= k)
    )
    warr = toks.select(
        id_col,
        "__n",
        F.transform(
            F.sequence(F.lit(0), F.col("__n") - k),
            lambda i: _whash(F.concat_ws("\x1f", F.slice("__w", i + 1, k))),
        ).alias("__wh"),
    )
    # cut once: the duplicated-hash aggregate AND the join-back both
    # read the window table; uncut, every k-token window is hashed twice
    wins = cut_once(
        warr.select(id_col, "__n", F.posexplode_outer("__wh").alias("pos", "wh"))
    )
    dup_hashes = (
        wins.groupBy("wh")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("wh")
    )
    per_doc = (
        wins.join(dup_hashes, "wh")
        .groupBy(id_col, "__n")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("__ps"),
            F.count("*").alias("__dw"),
        )
    )
    # covered tokens = sum over sorted positions of min(k, gap to the
    # previous position), seeding the first gap at k via a -k sentinel.
    # zip_with pads the shorter array with null; least() IGNORES nulls
    # (least(null, k) = k), so the pad slot must be nulled explicitly
    # before the fold.
    ps = F.col("__ps")
    prev = F.concat(F.array(F.lit(-k)), ps)
    gaps = F.zip_with(
        prev,
        ps,
        lambda a, b: F.when(b.isNotNull(), F.least(b - a, F.lit(k))),
    )
    covered = F.aggregate(
        F.filter(gaps, lambda x: x.isNotNull()),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return per_doc.select(
        F.col(id_col),
        F.col("__n").cast("long").alias("n_tokens"),
        F.col("__dw").cast("long").alias("dup_windows"),
        covered.cast("long").alias("dup_tokens"),
    )


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
) -> DataFrame:
    """Near-pairs of PRECOMPUTED ``bits``-wide fingerprints — the
    banding half of :func:`simhash_near_pairs` factored over any hash
    source (SimHash, image average-hash, audio chromaprints…): band
    into ``bits/chunks``-bit chunks, bucket-join, verify with
    bit_count(xor). Pigeonhole-EXACT for hamming <= chunks - 1; the
    shuffle carries (id, hash, bucket) rows — 16 bytes per band, never
    the payloads the hashes summarize."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"banding with {chunks} chunks is only exact for hamming <= "
            f"{chunks - 1}, got max_hamming={max_hamming}"
        )
    width = bits // chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col(hash_col), c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bucket"),
            )
            for c in range(chunks)
        ]
    )
    # cut once: both self-join sides consume this subtree; uncut, the
    # caller's fingerprint pipeline (aHash, simhash, ...) runs twice
    buckets = cut_once(
        df.select(id_col, hash_col, F.explode(chunk_structs).alias("cb")).select(
            id_col,
            hash_col,
            F.col("cb.chunk").alias("chunk"),
            F.col("cb.bucket").alias("bucket"),
        )
    )
    l = buckets.select(
        F.col(id_col).alias("d1"), F.col(hash_col).alias("h1"),
        "chunk", "bucket",
    )
    r = buckets.select(
        F.col(id_col).alias("d2"), F.col(hash_col).alias("h2"),
        "chunk", "bucket",
    )
    return (
        l.join(r, on=["chunk", "bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def edit1_pairs(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """All pairs within Levenshtein distance <= 1 via DELETION
    NEIGHBORHOODS (the FastSS / SymSpell blocking, Bocek et al. 2007):
    every string generates itself plus each single-character-deletion
    variant; two strings within edit distance 1 ALWAYS share a variant
    (substitution -> both delete the differing position; insert/delete
    -> the longer one's deletion equals the shorter one's identity;
    equality -> identity), so the candidate join on the variant key is
    LOSSLESS. Sharing a variant does NOT imply distance <= 1 (e.g.
    "ab"/"ba" share "a" and "b" but are distance 2), so candidates are
    verified with the built-in ``levenshtein``. Returns (d1, d2, dist)
    with d1 < d2, dist in {0, 1}.

    Scale shape: variants per string = length + 1 (a projection +
    explode, never an all-pairs join); the shuffle keys on the variant
    string, candidate work is sum over variant buckets of C(bucket, 2)
    — the bucket is the deletion neighborhood, not the corpus. The
    exact-dup special case (dist 0) falls out of the identity variant.
    The brute-force oracle diff doubles as the blocking-losslessness
    proof (the aHash/banding precedent)."""
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).filter(F.col("__t").isNotNull() & (F.length("__t") > 0))
    # (empty strings are excluded: sequence(1, 0) is DESCENDING in
    # Spark, which would make the deletion transform misfire)
    # materialize the variant array in its own select (perf traps 1/7)
    with_vars = base.select(
        "__id",
        "__t",
        F.concat(
            F.array(F.col("__t")),
            F.transform(
                F.sequence(F.lit(1), F.length("__t")),
                # delete position i: prefix [1, i) + suffix (i, end]
                # (substr past the end returns '' — no ANSI hazard)
                lambda i: F.concat(
                    F.substring(F.col("__t"), F.lit(1), i - 1),
                    F.col("__t").substr(i + 1, F.length("__t")),
                ),
            ),
        ).alias("__vars"),
    ).select(
        "__id", "__t", F.array_distinct("__vars").alias("__vars")
    )
    # cut once: both candidate-join sides read the variant table; uncut,
    # the deletion-neighborhood generation runs twice
    exploded = cut_once(
        with_vars.filter(F.size("__vars") > 0).select(
            "__id", "__t", F.explode_outer("__vars").alias("__v")
        )
    )
    a = exploded.select(
        F.col("__v"), F.col("__id").alias("d1"), F.col("__t").alias("t1")
    )
    b = exploded.select(
        F.col("__v"), F.col("__id").alias("d2"), F.col("__t").alias("t2")
    )
    cand = (
        a.join(b, on="__v")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "t1", "t2")
        .distinct()
    )
    return cand.select(
        "d1",
        "d2",
        F.levenshtein("t1", "t2").alias("dist"),
    ).filter(F.col("dist") <= 1)
