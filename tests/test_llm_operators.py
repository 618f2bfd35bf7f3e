"""Unit tests for the hash-seeded LLM operators that have no DuckDB
oracle: SimHash, hyperplane-LSH ANN, winnowing fingerprint, multimodal
decode stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_callcenter_delta_lakehouse_spark.catalog import load_table
from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
    minhash_lsh_dedup_pairs,
    simhash,
    simhash_near_pairs,
)
from aws_callcenter_delta_lakehouse_spark.operators.multimodal import decode_image
from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
)
from aws_callcenter_delta_lakehouse_spark.operators.text import fingerprint
from tests.conftest import SF001


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_identical_and_near_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words about spark query engines and shuffles everywhere"
    df = _docs(spark, [(1, base), (2, base), (3, near), (4, far)])
    pairs = {(r.d1, r.d2): r.hamming for r in simhash_near_pairs(df, "doc_id", "text").collect()}
    assert pairs[(1, 2)] == 0  # identical docs -> identical fingerprints
    assert (1, 4) not in pairs and (2, 4) not in pairs
    # fingerprint is deterministic across runs
    fp1 = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    fp2 = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    assert fp1 == fp2


def test_minhash_lsh_catches_constructed_near_dup(spark):
    words = [f"w{i}" for i in range(60)]
    a = " ".join(words)
    b = " ".join(words[:-1] + ["changed"])  # ~0.93 3-gram jaccard
    c = " ".join(reversed(words))
    df = _docs(spark, [(1, a), (2, b), (3, c)])
    got = {(r.d1, r.d2) for r in
           minhash_lsh_dedup_pairs(df, "doc_id", "text", threshold=0.8).collect()}
    assert got == {(1, 2)}


def test_jaccard_df_cap_bounds_candidate_set(spark):
    """The df cap drops hot shingles BEFORE the pair join: a shingle
    shared by every doc contributes zero pair rows once df > cap, and an
    unblocked call (no candidates, no cap) is a loud error."""
    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        jaccard_pairs, shingle,
    )

    # 40 docs all sharing one hot 3-gram ("common filler words"), plus
    # two genuine near-dups sharing rare shingles.
    words = [f"u{i}" for i in range(30)]
    rows = [(i, f"common filler words only doc {i}") for i in range(40)]
    rows += [(100, " ".join(words)), (101, " ".join(words[:-1] + ["changed"]))]
    df = _docs(spark, rows)
    sh = shingle(df, "doc_id", "text")

    with pytest.raises(ValueError, match="max_shingle_df"):
        jaccard_pairs(sh, "doc_id")

    capped = jaccard_pairs(sh, "doc_id", threshold=0.5, max_shingle_df=10)
    got = {(r.d1, r.d2) for r in capped.collect()}
    assert (100, 101) in got  # rare-shingle near-dups survive the cap
    # no pair among the 40 hot-shingle-only docs: the hot shingle was
    # excluded from the join, so the candidate set stayed linear
    assert all(d1 >= 100 for d1, _ in got)

    # row bound: with the cap, pair-join rows ≤ sum over kept shingles
    # of df^2; the hot shingle (df=40) would alone have contributed
    # C(40,2)=780 pair rows.
    a = sh.join(
        sh.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") <= 10),
        on="sh", how="left_semi",
    )
    pair_rows = (
        a.withColumnsRenamed({"doc_id": "d1"})
        .join(a.withColumnsRenamed({"doc_id": "d2"}), on="sh")
        .filter(F.col("d1") < F.col("d2"))
        .count()
    )
    assert pair_rows < 780


def test_prefix_filter_exact_matches_bruteforce(spark):
    """prefix_filter_pairs is EXACT: over a corpus with near-dups,
    unrelated docs, and a hot shared shingle, it returns precisely the
    brute-force all-pairs Jaccard >= tau set — no cap losses, no LSH
    misses — and the candidate join keys exclude the hottest shingle
    (rare-first prefixes stop before it for large docs)."""
    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        prefix_filter_pairs, shingle,
    )

    words = [f"v{i}" for i in range(40)]
    rows = [
        (1, " ".join(words)),
        (2, " ".join(words[:-1] + ["changed"])),          # ~0.93 jaccard w/ 1
        (3, " ".join(words[:20] + [f"x{i}" for i in range(20)])),  # ~0.3
        (4, "totally different text about engines and shuffles here"),
    ]
    # every doc also ends with the same hot trigram
    rows = [(i, t + " shared hot tail") for i, t in rows]
    df = _docs(spark, rows)
    sh = shingle(df, "doc_id", "text")

    got = {
        (r.d1, r.d2): (r.inter_size, r.union_size, r.jaccard)
        for r in prefix_filter_pairs(sh, "doc_id", 3, 5).collect()
    }

    # brute-force oracle in Python
    docs = {r.doc_id: set(x.sh for x in sh.filter(F.col("doc_id") == r.doc_id)
                          .collect())
            for r in df.select("doc_id").collect()}
    want = {}
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            k = len(docs[a] & docs[b])
            u = len(docs[a] | docs[b])
            if 5 * k >= 3 * u:
                want[(a, b)] = (k, u, k / u)
    assert got == want
    assert (1, 2) in got and (1, 3) not in got


@pytest.mark.slow  # quality-property ratchet: operator semantics stay covered by the oracle battery
def test_ann_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    ann = ann_topk(emb, queries, dim=64, num_planes=6, k=5)
    # every query must at least find itself (cosine 1.0, same bucket)
    self_hits = ann.filter(F.col("q_id") == F.col("vec_id")).count()
    assert self_hits == 10
    # top-1 by ANN == top-1 by brute force (the vector itself)
    top1 = (
        ann.orderBy("q_id", F.desc("sim"), "vec_id")
        .groupBy("q_id")
        .agg(F.first("vec_id").alias("hit"))
    )
    assert top1.filter(F.col("q_id") == F.col("hit")).count() == 10


def test_winnow_fingerprint_edit_robustness(spark):
    """True winnowing is robust to a single-word edit even when that
    edit destroys the GLOBAL min gram hash (the r1 'winnow' was a global
    array_min — one adversarial edit replaced the whole fingerprint)."""
    from aws_callcenter_delta_lakehouse_spark.operators.text import (
        winnow_fingerprints,
    )

    words = [f"tok{i}" for i in range(100)]
    # locate the gram with the GLOBAL min hash, using the same xxhash64
    grams = spark.createDataFrame(
        [(i, " ".join(words[i : i + 3])) for i in range(98)], "i int, g string"
    ).select("i", F.xxhash64("g").alias("h")).collect()
    argmin = min(grams, key=lambda r: r.h).i
    edited = list(words)
    edited[argmin + 1] = "EDIT"  # kills the global-min gram

    a = " ".join(words)
    df = _docs(spark, [(1, a), (2, a), (3, " ".join(edited))])
    fps = {
        r.doc_id: set(r.winnow_fps)
        for r in winnow_fingerprints(df, "doc_id", "text").collect()
    }
    assert fps[1] == fps[2]  # identical text -> identical fingerprint set
    # the global-min fingerprint (k=1 MinHash) did NOT survive this edit
    assert min(fps[1]) not in fps[3]
    # ...but windowed winnowing preserves the fingerprints of every
    # window not overlapping the edit
    overlap = len(fps[1] & fps[3]) / len(fps[1])
    assert overlap >= 0.7, overlap
    # Schleimer guarantee: any shared run of window+n-1 words shares a
    # fingerprint — docs 1 and 3 still share long runs
    assert fps[1] & fps[3]


def test_pii_redaction_on_constructed_text(spark):
    """The corpus has no PII, so pin the redaction behavior on
    constructed inputs: all three pattern families, SSN-before-phone
    precedence, and counts."""
    from aws_callcenter_delta_lakehouse_spark.operators.text import redact_pii

    df = _docs(spark, [
        (1, "contact bob.smith+x@example.co.uk or 555-123-4567 today"),
        (2, "ssn 123-45-6789 is not a phone"),
        (3, "clean text with no pii at all"),
    ])
    got = {r.doc_id: (r.clean_text, r.n_redactions)
           for r in redact_pii(df, "doc_id", "text").collect()}
    assert got[1] == ("contact <EMAIL> or <PHONE> today", 2)
    assert got[2] == ("ssn <SSN> is not a phone", 1)  # SSN wins over phone
    assert got[3] == ("clean text with no pii at all", 0)


def test_chunking_overlap_and_clamp(spark):
    """Chunks stride by size-overlap, share `overlap` words, and the
    last chunk clamps at the doc end; short docs yield one chunk."""
    from aws_callcenter_delta_lakehouse_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(33)]
    df = _docs(spark, [(1, " ".join(words)), (2, "a b c")])
    rows = chunk_documents(df, "doc_id", "text", chunk_size=10, overlap=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text, r.n_tokens))
    d1 = sorted(by_doc[1])
    # stride 6: starts 1,7,13,19,25 -> greatest(33-4,1)=29 covers start 25
    assert [c[0] for c in d1] == [0, 1, 2, 3, 4]
    assert d1[0][1].split() == words[0:10]
    assert d1[1][1].split() == words[6:16]          # 4-word overlap
    assert d1[-1][1].split() == words[24:33]        # clamped, 9 tokens
    assert d1[-1][2] == 9
    assert by_doc[2] == [(0, "a b c", 3)]           # short doc: one chunk


def test_decode_stub_contract():
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0")
    assert decode_image(b"x" * 100, fake=True) == (100 % 640 + 1, 100 % 480 + 1)


def test_approx_distinct_within_tolerance(spark):
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY
    row = REGISTRY["approx_distinct_parts"].fn(spark, SF001).collect()[0]
    assert abs(row.approx_parts - row.exact_parts) / row.exact_parts < 0.1


def test_ivf_topk_recall(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import ivf_topk
    emb = load_table(spark, SF001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_topk(emb, queries, num_centroids=16, nprobe=4, k=5)
    # self-vector must be found (its own cell is always probed: sim=1.0)
    assert out.filter(F.col("q_id") == F.col("vec_id")).count() == 10


@pytest.mark.slow  # quality-property ratchet: operator semantics stay covered by the oracle battery
def test_kmeans_refine_reduces_quantization_error(spark):
    """Lloyd iterations must move centroids toward cluster means:
    mean cosine similarity of each vector to its assigned centroid
    strictly improves over the seed (lowest-id) centroids."""
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
        _assign, cosine, ivf_index, kmeans_refine,
    )
    emb = load_table(spark, SF001, "embeddings")
    seed_cent, seed_assign = ivf_index(emb, num_centroids=8)

    def mean_sim(assigned, cents):
        joined = assigned.join(
            F.broadcast(cents), on="centroid_id"
        ).select(cosine(F.col("embedding"), F.col("centroid_vec")).alias("s"))
        return joined.agg(F.avg("s")).collect()[0][0]

    before = mean_sim(seed_assign, seed_cent)
    refined = kmeans_refine(emb, seed_cent, iterations=2)
    after = mean_sim(_assign(emb, refined, "vec_id", "embedding"), refined)
    assert after > before, (before, after)
    # refined centroids keep the id space and dimensionality
    assert refined.count() <= 8
    assert len(refined.collect()[0].centroid_vec) == 64


def test_sample_stratified_fractions(spark):
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY
    q = REGISTRY["sample_stratified"].fn
    got = q(spark, SF001).groupBy("event_type").count().collect()
    totals = {
        r.event_type: r["count"]
        for r in load_table(spark, SF001, "events").groupBy("event_type").count().collect()
    }
    for r in got:
        frac = r["count"] / totals[r.event_type]
        want = 0.2 if r.event_type == "purchase" else 0.05
        assert abs(frac - want) < 0.08, (r.event_type, frac)
    # deterministic for a fixed seed + same input splits
    a = sorted(x.event_id for x in q(spark, SF001).collect())
    b = sorted(x.event_id for x in q(spark, SF001).collect())
    assert a == b


def test_salted_join_matches_plain_join(spark):
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table
    from aws_callcenter_delta_lakehouse_spark.operators.skew import salted_join

    orders = load_table(spark, SF001, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF001, "customer").select("c_custkey", "c_mktsegment")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
    salted = salted_join(
        orders.withColumnsRenamed({"o_custkey": "k"}),
        cust.withColumnsRenamed({"c_custkey": "k"}),
        on=["k"],
    ).count()
    assert salted == plain


def test_join_how_restrictions_are_loud(spark):
    """range_join and salted_join reject `how` values whose semantics
    they cannot preserve (outer rows dropped / replicated num_salts x)."""
    from aws_callcenter_delta_lakehouse_spark.operators.rangejoin import range_join
    from aws_callcenter_delta_lakehouse_spark.operators.skew import salted_join

    pts = spark.createDataFrame([(1.0,)], "p double")
    iv = spark.createDataFrame([(0.0, 2.0)], "lo double, hi double")
    with pytest.raises(ValueError, match="inner"):
        range_join(pts, "p", iv, "lo", "hi", bucket_width=1.0, how="left")
    l = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="replicated"):
        salted_join(l, l, on=["k"], how="full")
    # left-anti stays supported and correct: every key is present at
    # every salt on the replicated side
    assert salted_join(l, l, on=["k"], how="left_anti").count() == 0


@pytest.mark.slow  # quality-property ratchet: operator semantics stay covered by the oracle battery
def test_cosine_near_dup_lsh_catches_constructed_dups(spark):
    """LSH-blocked embedding dedup: near-identical vectors (cos ~0.999)
    are caught; orthogonal vectors are not; and the blocked-exact path
    agrees with the LSH path on the constructed dups."""
    import math
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    dim = 16
    base = [math.sin(i * 1.7) + 1.5 for i in range(dim)]
    near = list(base)
    near[0] += 0.01  # cos ~0.99997
    ortho = [(1.0 if i % 2 else -1.0) * (i + 1) for i in range(dim)]
    rows = [(1, base, 0), (2, near, 0), (3, ortho, 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    lsh = cosine_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.95, dim=dim
    )
    got = {(r.d1, r.d2) for r in lsh.collect()}
    assert got == {(1, 2)}
    blocked = cosine_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.95, block_col="label"
    )
    assert {(r.d1, r.d2) for r in blocked.collect()} == {(1, 2)}


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_multiprobe_ann_improves_recall(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
        ann_topk, brute_force_topk,
    )
    emb = load_table(spark, SF001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def recall(ann_df):
        hits = 0
        for qid in range(20):
            qvec = emb.filter(F.col("vec_id") == qid).select("embedding").collect()[0][0]
            truth = {
                r.vec_id
                for r in brute_force_topk(
                    emb, F.lit(qvec).cast("array<float>"), k=5
                ).collect()
            }
            got = {
                r.vec_id
                for r in ann_df.filter(F.col("q_id") == qid).collect()
            }
            hits += len(truth & got)
        return hits / (20 * 5)

    single = ann_topk(emb, queries, num_planes=6, k=5).cache()
    multi = ann_topk(emb, queries, num_planes=6, k=5, multiprobe=True).cache()
    r1, rm = recall(single), recall(multi)
    # testdata embeddings are near-random (max off-diagonal cosine ~0.47),
    # the hardest case for LSH — assert the multiprobe GAIN, not high
    # absolute recall (clustered real-world embeddings bucket far better).
    assert rm > r1, (r1, rm)
    assert rm >= 0.3, (r1, rm)


def test_connected_components_chain_and_triangle(spark, tmp_path):
    from aws_callcenter_delta_lakehouse_spark.operators.components import (
        cluster_summary, connected_components,
    )
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "d1 long, d2 long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    comps = {r.v: r.component for r in connected_components(edges).collect()}
    assert comps == expected
    # reliable-checkpoint mode (the cluster path) gives identical labels
    from aws_callcenter_delta_lakehouse_spark.operators.materialize import CUT_DIR_CONF

    spark.conf.set(CUT_DIR_CONF, str(tmp_path / "cc_ckpt"))
    try:
        comps_r = {
            r.v: r.component for r in connected_components(edges).collect()
        }
    finally:
        spark.conf.unset(CUT_DIR_CONF)
    assert comps_r == expected
    summary = {r.component: (r.n_members, r.representative)
               for r in cluster_summary(connected_components(edges)).collect()}
    assert summary == {1: (4, 1), 10: (3, 10), 20: (2, 20)}


def test_connected_components_nonconvergence_is_loud(spark):
    """Exhausting max_iterations must not silently return wrong labels."""
    from aws_callcenter_delta_lakehouse_spark.operators.components import (
        ConvergenceError, connected_components,
    )
    # a chain of 8 vertices needs ~7 rounds; cap at 2 to force failure
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "d1 long, d2 long"
    )
    with pytest.raises(ConvergenceError, match="did not converge"):
        connected_components(edges, max_iterations=2).collect()
    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = connected_components(
            edges, max_iterations=2, on_nonconverged="warn"
        )
        assert partial.count() == 8


def test_asof_pandas_backend_matches_window_backend(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.asof import (
        asof_join, asof_join_pandas,
    )
    events = load_table(spark, SF001, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.unix_micros("ts").alias("purchase_us")
    )
    a = asof_join(views, purchases, ["user_id"], "ts", "ts", ["purchase_us"])
    b = asof_join_pandas(views, purchases, ["user_id"], "ts", "ts", ["purchase_us"])
    ka = {(r.event_id, r.purchase_us_asof) for r in a.collect()}
    kb = {(r.event_id, r.purchase_us_asof) for r in b.collect()}
    assert ka == kb


def test_grouped_map_zscore_matches_window_formulation(spark):
    from pyspark.sql import Window
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY

    got = REGISTRY["grouped_map_zscore"].fn(spark, SF001).toPandas()
    docs = load_table(spark, SF001, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang")
    want = docs.select(
        "doc_id",
        ((F.col("n_chars") - F.avg("n_chars").over(w)) / F.stddev_samp("n_chars").over(w)).alias("z"),
    ).toPandas()
    merged = got.merge(want, on="doc_id", suffixes=("_p", "_w"))
    # the registered query rounds z to 4 digits (for its DuckDB oracle);
    # the window formulation here is unrounded — compare at that grain
    assert ((merged.z_p - merged.z_w).abs() < 1e-4).all()


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization must preserve the cosine ranking almost
    exactly: top-10 overlap >= 8/10 for each of 5 query vectors, and
    the self-hit (cosine 1.0) always survives."""
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )

    emb = load_table(spark, SF001, "embeddings")
    for qid in range(5):
        qvec = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q")
        )
        corpus = emb.join(F.broadcast(qvec))
        exact = {
            r.vec_id for r in brute_force_topk(corpus, F.col("q"), k=10).collect()
        }
        quant = {
            r.vec_id for r in quantized_topk(corpus, F.col("q"), k=10).collect()
        }
        assert qid in quant
        assert len(exact & quant) >= 8, (qid, exact, quant)


def test_quantize_int8_is_tinyint_and_bounded(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
        quantize_int8,
    )
    from pyspark.sql import types as T

    emb = load_table(spark, SF001, "embeddings")
    q = quantize_int8(emb)
    assert isinstance(q.schema["qvec"].dataType.elementType, T.ByteType)
    bounds = q.select(
        F.array_max("qvec").alias("hi"), F.array_min("qvec").alias("lo")
    ).agg(F.max("hi").alias("hi"), F.min("lo").alias("lo")).first()
    assert bounds.hi <= 127 and bounds.lo >= -127


def test_approx_percentiles_within_tolerance(spark):
    """The GK sketch at accuracy 10k must sit within the exact rank
    neighborhood: compare against exact percentile per event_type."""
    from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY

    approx = {
        r.event_type: (r.p25, r.p50, r.p75, r.p95)
        for r in REGISTRY["events_approx_percentiles"].fn(spark, SF001).collect()
    }
    ev = load_table(spark, SF001, "events")
    exact = {
        r.event_type: (r.p25, r.p50, r.p75, r.p95)
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.25)).alias("p25"),
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.75)).alias("p75"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    for et, ap in approx.items():
        ex = exact[et]
        # value-domain tolerance: events.value spans ~[0, 1000]; the
        # sketch at 10k accuracy on ~2k rows/type is near-exact.
        for a, e in zip(ap, ex):
            assert abs(a - e) <= max(0.05 * abs(e), 0.5), (et, ap, ex)


def test_audio_windows_framing_math(spark):
    """Window/hop framing must be exact: a 1000-byte payload at
    window=400/hop=160 yields full windows starting 0,160,320,480
    (starts are hop multiples <= n - window = 600)."""
    from aws_callcenter_delta_lakehouse_spark.operators.multimodal import (
        audio_windows,
    )

    media = spark.createDataFrame(
        [(1, "audio/fake", bytes(range(250)) * 4)],
        "doc_id long, media_type string, payload binary",
    )
    rows = audio_windows(media).orderBy("window_idx").collect()
    starts = [r.start_ms for r in rows]
    assert starts == [i * 160 * 1000.0 / 16000 for i in range(4)]
    assert all(r.n_samples == 400 for r in rows)
    assert rows[0].end_ms == 400 * 1000.0 / 16000
    # int8 interpretation: RMS is deterministic and positive
    assert all(r.rms > 0 for r in rows)


@pytest.mark.slow  # quality-property ratchet: operator semantics stay covered by the oracle battery
def test_pagerank_invariants(spark):
    """Sum of ranks == n_vertices; a uniform cycle is rank-1 everywhere;
    a star's center outranks its leaves."""
    from aws_callcenter_delta_lakehouse_spark.operators.components import pagerank

    # 4-cycle: perfectly uniform
    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    ranks = {r.v: r.rank for r in pagerank(cycle, iterations=8).collect()}
    assert abs(sum(ranks.values()) - 4) < 1e-6
    assert all(abs(r - 1.0) < 1e-6 for r in ranks.values())

    # star: all leaves point at center 0, center points at leaf 1
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)], "src long, dst long"
    )
    sranks = {r.v: r.rank for r in pagerank(star, iterations=15).collect()}
    assert abs(sum(sranks.values()) - 6) < 1e-6
    assert sranks[0] == max(sranks.values())
    assert all(sranks[0] > sranks[i] for i in range(2, 6))


def test_pagerank_dangling_mass_conserved(spark):
    """A vertex with no out-edges must redistribute its rank (sum stays
    n), not leak it."""
    from aws_callcenter_delta_lakehouse_spark.operators.components import pagerank

    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    ranks = {r.v: r.rank for r in pagerank(chain, iterations=12).collect()}
    assert abs(sum(ranks.values()) - 3) < 1e-6
    assert ranks[3] == max(ranks.values())


def test_compression_ratio_separates_repetitive_text(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.curation import (
        compression_ratio,
    )

    rep = "spam " * 200
    import random
    rng = random.Random(7)
    prose = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(200)
    )
    df = _docs(spark, [(1, rep), (2, prose)])
    got = {r.doc_id: r for r in compression_ratio(df, "doc_id", "text").collect()}
    assert got[1].ratio < 0.1          # pure repetition collapses
    assert got[2].ratio > 0.5          # high-entropy text barely compresses
    assert got[1].n_bytes == len(rep.encode())


def test_write_training_shards_roundtrip(spark, tmp_path):
    """The export writer must produce one partition dir per shard with
    exactly the curated docs, readable back with partition pruning."""
    from aws_callcenter_delta_lakehouse_spark.operators.curation import (
        curate,
        write_training_shards,
    )

    docs = load_table(spark, SF001, "documents")
    curated = curate(docs, "doc_id", "text", num_shards=4)
    manifest = write_training_shards(
        curated, docs, str(tmp_path / "export")
    ).collect()
    assert sum(r.n_docs for r in manifest) == curated.count()
    import os
    dirs = {d for d in os.listdir(tmp_path / "export") if d.startswith("shard=")}
    assert dirs == {f"shard={r.shard}" for r in manifest}
    # partition pruning: reading one shard touches one partition dir
    one = spark.read.parquet(str(tmp_path / "export")).filter(F.col("shard") == manifest[0].shard)
    assert one.count() == manifest[0].n_docs


def test_semantic_dedup_drops_near_dup_keeps_distinct(spark):
    """SemDeDup composition: within-cluster near-duplicates lose all but
    the lowest id; distinct vectors and all cluster seeds survive."""
    import math
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
        semantic_dedup,
    )

    dim = 16
    base = [math.sin(i * 1.7) + 1.5 for i in range(dim)]
    near = list(base)
    near[0] += 0.01  # cos ~0.99997 with base
    near2 = list(base)
    near2[1] += 0.01  # chain: near2 ~ base too
    ortho = [(1.0 if i % 2 else -1.0) * (i + 1) for i in range(dim)]
    # ids chosen so the two IVF seeds (lowest ids) are the two DISTINCT
    # vectors — blocking recall depends on clustering quality, exactly
    # as in SemDeDup itself
    rows = [(1, base), (2, ortho), (3, near), (4, near2)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    surv = semantic_dedup(df, num_centroids=2, threshold=0.99)
    ids = sorted(r.vec_id for r in surv.collect())
    # 3 and 4 are near-dups of 1 (the min id) -> dropped; 2 distinct
    assert ids == [1, 2]
    # survivors carry their cluster assignment
    assert {c for c in surv.columns} >= {"vec_id", "embedding", "centroid_id"}


def test_triangle_count_known_graph(spark):
    """node-iterator++ on a known graph: K4 minus one edge has 2
    triangles; a dangling pendant edge adds none."""
    from aws_callcenter_delta_lakehouse_spark.operators.components import (
        triangle_count,
    )

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 5)]
    df = spark.createDataFrame(edges, "s1 long, s2 long")
    assert triangle_count(df).collect()[0].n_triangles == 2
    # hub star: no triangles at all
    star = spark.createDataFrame([(0, i) for i in range(1, 8)], "s1 long, s2 long")
    assert triangle_count(star).collect()[0].n_triangles == 0


def test_interval_overlap_join_dedup_and_half_open(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    # a: [0, 100); b: [50, 250) overlaps a across 3 buckets of width 50
    # -> must appear exactly ONCE; c: [100, 150) touches a only at the
    # half-open boundary -> no overlap; d: [240, 260) overlaps b
    iv = spark.createDataFrame(
        [("a", 0, 100), ("b", 50, 250), ("c", 100, 150), ("d", 240, 260)],
        "name string, lo long, hi long",
    )
    out = interval_overlap_join(iv, iv, "lo", "hi", bucket_width=50.0)
    pairs = {
        (r.name, r.name_r) for r in out.collect() if r.name < r.name_r
    }
    assert pairs == {("a", "b"), ("b", "c"), ("b", "d")}
    # multi-bucket pair emitted exactly once (no distinct in the plan)
    ab = [r for r in out.collect() if {r.name, r.name_r} == {"a", "b"}]
    assert len(ab) == 2  # once per direction, once each


def test_interval_overlap_join_inverted_interval_yields_nothing(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    # inverted interval (lo > hi) violates the documented precondition:
    # it must match nothing AND produce no descending bucket explosion
    iv = spark.createDataFrame(
        [("ok", 0, 100), ("bad", 500, -500)], "name string, lo long, hi long"
    )
    out = interval_overlap_join(iv, iv, "lo", "hi", bucket_width=10.0)
    names = {(r.name, r.name_r) for r in out.collect()}
    assert names == {("ok", "ok")}


def test_minhash_incremental_probe_matches_batch(spark, tmp_path):
    """Stored-index incremental path: persist the band-bucket + shingle
    tables for the 'first 90%' corpus in managed tables, probe the
    arriving 10% against them, and compare with a full batch recompute
    restricted to pairs touching the arrivals."""
    from aws_callcenter_delta_lakehouse_spark.catalog import load_table
    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_lsh_dedup_pairs,
        minhash_lsh_probe_pairs,
        minhash_signature,
        shingle,
    )
    from aws_callcenter_delta_lakehouse_spark.sources import managed_table as mt
    from tests.conftest import SF001

    docs = load_table(spark, SF001, "documents")
    incoming = docs.filter(F.pmod(F.col("doc_id"), 10) == 7)
    indexed = docs.filter(F.pmod(F.col("doc_id"), 10) != 7)

    # ingest-time artifacts, persisted once
    bpath, spath = str(tmp_path / "buckets"), str(tmp_path / "shingles")
    sigs = minhash_signature(
        shingle(indexed, "doc_id", "text", distinct=False), "doc_id"
    )
    mt.initial_write(lsh_band_buckets(sigs, "doc_id"), bpath, keys=("doc_id",))
    mt.initial_write(
        shingle(indexed, "doc_id", "text", distinct=True), spath, keys=("doc_id",)
    )

    got = {
        (r.d1, r.d2)
        for r in minhash_lsh_probe_pairs(
            mt.read(spark, bpath), mt.read(spark, spath), incoming,
            "doc_id", "text", threshold=0.8,
        ).collect()
    }
    new_ids = {r.doc_id for r in incoming.select("doc_id").collect()}
    want = {
        (r.d1, r.d2)
        for r in minhash_lsh_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
        if r.d1 in new_ids or r.d2 in new_ids
    }
    assert got == want


def test_exact_group_percentile_small_groups_and_ties(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.percentiles import (
        exact_group_percentile,
    )

    rows = (
        [("odd", float(v)) for v in [5, 1, 3]]            # median 3
        + [("even", float(v)) for v in [4, 1, 2, 3]]       # lower middle 2
        + [("ties", float(v)) for v in [2, 2, 2, 7, 9]]    # median 2
        + [("one", 42.0)]                                  # single row
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r.g, r.n_rows, r.m)
        for r in exact_group_percentile(df, "g", "v", p=0.5, out_col="m").collect()
    }
    assert got == {("odd", 3, 3.0), ("even", 4, 2.0), ("ties", 5, 2.0), ("one", 1, 42.0)}
    # p90 over 1..10: k = floor(.9*9)+1 = 9
    ten = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 11)], "g string, v double"
    )
    p90 = exact_group_percentile(ten, "g", "v", p=0.9, out_col="m").collect()
    assert [(r.g, r.m) for r in p90] == [("g", 9.0)]


def test_asof_forward_direction_and_tolerance(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 250), (3, "k", 900), (4, "x", 50)],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("k", 100, "at100"), ("k", 300, "at300")], "k string, t long, v string"
    )
    out = {
        r.id: r.v_asof
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="t",
            payload=["v"], direction="forward", tolerance=100,
        ).collect()
    }
    assert out[1] == "at100"   # exact tie matches (>= inclusive)
    assert out[2] == "at300"   # next within tolerance (250 -> 300)
    assert out[3] is None      # no future right row at all
    assert out[4] is None      # key with no right side
    # same probe without tolerance: id 3 still has nothing ahead
    out2 = {
        r.id: r.v_asof
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="t",
            payload=["v"], direction="forward",
        ).collect()
    }
    assert out2[1] == "at100" and out2[2] == "at300" and out2[3] is None
    # backward with tolerance: id 3 (t=900) is 600 past at300 -> NULL
    out3 = {
        r.id: r.v_asof
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="t",
            payload=["v"], tolerance=100,
        ).collect()
    }
    assert out3[3] is None and out3[2] is None and out3[1] == "at100"


def test_grid_radius_join_matches_brute_force(spark):
    """Grid-bucketized radius join == brute-force pair enumeration,
    including negative coordinates, on-boundary distances, and pairs
    that straddle cell borders."""
    import itertools

    from aws_callcenter_delta_lakehouse_spark.operators.spatial import (
        grid_radius_join,
    )

    # deterministic scatter incl. negatives and exact-boundary pairs:
    # (0,0)-(3,4) is distance 5 exactly (kept: <=), (0,0)-(5.01,0) is out
    lpts = [(i, ((i * 13) % 41) - 20.0, ((i * 29) % 37) - 18.0) for i in range(60)]
    lpts += [(100, 0.0, 0.0)]
    rpts = [(j, ((j * 7) % 43) - 21.0, ((j * 31) % 39) - 19.0) for j in range(40)]
    rpts += [(200, 3.0, 4.0), (201, 5.01, 0.0)]
    left = spark.createDataFrame(lpts, "lid long, x double, y double")
    right = spark.createDataFrame(rpts, "rid long, x double, y double")
    radius = 5.0

    got = {
        (r.lid, r.rid_r)
        for r in grid_radius_join(left, right, "x", "y", radius).collect()
    }
    want = {
        (lid, rid)
        for (lid, lx, ly), (rid, rx, ry) in itertools.product(lpts, rpts)
        if (lx - rx) ** 2 + (ly - ry) ** 2 <= radius * radius
    }
    assert got == want
    assert (100, 200) in got and (100, 201) not in got


def test_generalize_to_k_ladder_and_suppression(spark):
    """Ladder picks the first level where every class reaches k;
    irreparable rows suppress at the coarsest level; output classes
    are all >= k either way."""
    from aws_callcenter_delta_lakehouse_spark.operators.privacy import (
        generalize_to_k,
    )

    rows = (
        [(i, "NY", 20 + i % 2) for i in range(6)]       # big class both levels
        + [(10, "SF", 30), (11, "SF", 31), (12, "SF", 32)]  # k=3 only coarse
        + [(99, "LA", 77)]                               # singleton everywhere
    )
    df = spark.createDataFrame(rows, "id long, city string, age long")
    ladder = [
        {"city": F.col("city"), "age": F.col("age")},
        {"city": F.col("city"), "age": (F.col("age") / 10).cast("long") * 10},
    ]
    out, info = generalize_to_k(df, ladder, k=3)
    assert info["level"] == 1          # level 0 fails (age singletons)
    assert info["suppressed"] == 1     # the LA singleton
    got = {(r.city, r.age) for r in out.collect()}
    assert got == {("NY", 20), ("SF", 30)}
    sizes = [r.n for r in out.groupBy("city", "age").agg(
        F.count("*").alias("n")).collect()]
    assert all(n >= 3 for n in sizes)

    # already-anonymous data: level 0, nothing suppressed
    out0, info0 = generalize_to_k(
        df.filter(F.col("city") == "NY").withColumn("age", F.lit(25)),
        ladder, k=3,
    )
    assert info0 == {"level": 0, "suppressed": 0, "min_class_size": 6}

    with pytest.raises(ValueError, match="same quasi-identifier"):
        generalize_to_k(df, [{"city": F.col("city")},
                             {"age": F.col("age")}], k=2)


def test_containment_pairs_finds_embedded_quote(spark):
    """A short doc quoted wholesale inside a long one: Jaccard is tiny
    (union dominated by the long doc) but containment(short -> long)
    must be 1.0, and the reverse direction must NOT fire."""
    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        containment_pairs,
        shingle,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " tail0 tail1 tail2")],
        "doc_id long, text string",
    )
    sh = shingle(df, "doc_id", "text")
    got = {
        (r.src, r.dst): r.containment
        for r in containment_pairs(
            sh, "doc_id", threshold=0.6, max_shingle_df=10
        ).collect()
    }
    assert got[(1, 2)] == 1.0  # every shingle of the quote is in doc 2
    assert (2, 1) not in got  # long doc is NOT contained in the quote


def test_substring_duplicate_spans_interval_merge(spark):
    """Constructed corpus pins the interval-merge arithmetic: doc 1 and
    doc 2 share one verbatim 12-token run (3 duplicated k=10 windows,
    merged cover = 12 tokens); doc 3 shares nothing; doc 4 repeats the
    run INTERNALLY only (within-doc repeats are not cross-doc dups)."""
    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        substring_duplicate_spans,
    )

    run = " ".join(f"shared{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + run + " gamma delta"),          # 16 tokens
        (2, run + " epsilon zeta eta theta"),               # 16 tokens
        (3, " ".join(f"solo{i}" for i in range(16))),       # no dups
        (4, run.replace("shared", "self") + " x y "
            + run.replace("shared", "self")),               # self-repeat
    ]
    out = {
        r["doc_id"]: r
        for r in substring_duplicate_spans(
            _docs(spark, rows), "doc_id", "text", k=10
        ).collect()
    }
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d]["n_tokens"] == 16
        assert out[d]["dup_windows"] == 3  # starts at 3 positions
        assert out[d]["dup_tokens"] == 12  # merged, not 3*10
    # disjoint duplicated runs don't bridge: doc 5/6 share two separate
    # 10-token runs with a unique middle -> cover = 20, not 10+k-merge
    runa = " ".join(f"aa{i}" for i in range(10))
    runb = " ".join(f"bb{i}" for i in range(10))
    rows2 = [
        (5, runa + " mid5a mid5b " + runb),
        (6, runa + " other other2 other3 " + runb),
    ]
    out2 = {
        r["doc_id"]: r
        for r in substring_duplicate_spans(
            _docs(spark, rows2), "doc_id", "text", k=10
        ).collect()
    }
    assert out2[5]["dup_windows"] == 2
    assert out2[5]["dup_tokens"] == 20
    assert out2[6]["dup_tokens"] == 20


# -- perceptual hash near-dup (round 10) -------------------------------------


def test_average_hash_packs_bits_and_sign(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.multimodal import (
        average_hash,
    )

    # 64 pixels: exactly the last 32 above the mean -> bits 32..63 set,
    # which in two's complement is a negative BIGINT
    px = [0] * 32 + [100] * 32
    df = spark.createDataFrame([(px,)], "px array<int>")
    h = df.select(average_hash(F.col("px")).alias("h")).first()["h"]
    expect = sum(1 << i for i in range(32, 63)) - 2**63
    assert h == expect


def test_average_hash_rejects_oversize(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.multimodal import (
        average_hash,
    )

    with pytest.raises(ValueError):
        average_hash(F.col("px"), n=65)


def test_hamming_near_pairs_matches_brute_force(spark):
    import itertools

    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        hamming_near_pairs,
    )

    hashes = [
        (0, 0b1111000),
        (1, 0b1111001),          # hamming 1 to id 0
        (2, 0b1111111),          # hamming 3 to id 0, 2 to id 1
        (3, -(2**63) + 5),       # negative fingerprint, far from all
        (4, -(2**63) + 4),       # hamming 1 to id 3
    ]
    df = spark.createDataFrame(hashes, "doc_id long, h long")
    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in hamming_near_pairs(df, "doc_id", "h", 3, 4).collect()
    }
    expect = {}
    for (i, a), (j, b) in itertools.combinations(hashes, 2):
        d = bin((a ^ b) & (2**64 - 1)).count("1")
        if d <= 3:
            expect[(i, j)] = d
    assert got == expect


def test_hamming_near_pairs_rejects_unsound_banding(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        hamming_near_pairs,
    )

    df = spark.createDataFrame([(0, 1)], "doc_id long, h long")
    with pytest.raises(ValueError):
        hamming_near_pairs(df, "doc_id", "h", max_hamming=4, chunks=4)


def test_rake_keywords_hand_example(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.text import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [
            (1, "deep learning of deep networks"),
            (2, "deep learning"),
        ],
        "doc_id long, text string",
    )
    out = rake_keywords(docs, "doc_id", "text", ["of"], top_k=10).collect()
    rows = {r["phrase"]: r for r in out}
    # phrases: "deep learning" (x2), "deep networks"
    # freq: deep=4, learning=2, networks=1
    # degree: deep = 2+2+2+2 = 8, learning = 2+2 = 4, networks = 2
    # ws(micro): deep 2_000_000, learning 2_000_000, networks 2_000_000
    assert set(rows) == {"deep learning", "deep networks"}
    assert rows["deep learning"]["score_micro"] == 4_000_000
    assert rows["deep learning"]["n_docs"] == 2
    assert rows["deep networks"]["n_words"] == 2


def test_rake_phrase_runs_split_on_stopwords_and_punct(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.text import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [(1, "Red fish, and BLUE fish!")], "doc_id long, text string"
    )
    out = rake_keywords(docs, "doc_id", "text", ["and"], top_k=10).collect()
    assert {r["phrase"] for r in out} == {"red fish", "blue fish"}


def test_range_search_radius_semantics_and_recall(spark):
    """range_search returns the WHOLE ball (not top-k): constructed
    near-neighbors land inside the radius, far vectors stay out, and
    every query finds itself (self bucket always collides)."""
    from aws_callcenter_delta_lakehouse_spark.operators.similarity import (
        cosine, range_search,
    )

    emb = load_table(spark, SF001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # plant one exact near-duplicate of query 0 (tiny perturbation on
    # one component keeps cosine ~1) under a fresh id
    dup = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.lit(900001).cast(emb.schema["vec_id"].dataType).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x.cast("double") * 1.0001).cast("float")
            ).alias("embedding"),
            *[F.col(c) for c in emb.columns if c not in ("vec_id", "embedding")],
        )
    )
    corpus = emb.unionByName(dup)
    out = range_search(
        corpus, queries, threshold=0.9, multiprobe=True
    ).cache()
    rows = {(r["q_id"], r["vec_id"]): r["sim"] for r in out.collect()}
    # all 8 self matches at sim 1.0
    assert all(rows.get((i, i)) == 1.0 for i in range(8))
    # the planted duplicate is inside query 0's ball
    assert rows.get((0, 900001), 0.0) >= 0.999
    # radius semantics: nothing below the threshold leaks through
    assert all(s >= 0.9 for s in rows.values())
    out.unpersist()


def test_edit1_pairs_fastss_semantics(spark):
    """Deletion-neighborhood fuzzy join: substitutions, insertions,
    deletions and exact dups all pair at dist <= 1; transpositions
    ('ab'/'ba' — distance 2 despite shared variants) are verified
    away; unrelated strings never pair."""
    from aws_callcenter_delta_lakehouse_spark.operators.dedup import (
        edit1_pairs,
    )

    rows = [(1, "kitten"), (2, "sitten"), (3, "kitte"), (4, "kittens"),
            (5, "mitten"), (6, "banana"), (7, "kitten"), (8, "ab"),
            (9, "ba"), (10, "")]
    df = spark.createDataFrame(rows, "id int, t string")
    out = sorted(
        (r.d1, r.d2, r.dist) for r in edit1_pairs(df, "id", "t").collect()
    )
    assert (1, 7, 0) in out                      # exact duplicate
    assert (1, 2, 1) in out and (1, 5, 1) in out  # substitutions
    assert (1, 3, 1) in out                      # deletion
    assert (1, 4, 1) in out                      # insertion
    assert not any(p[:2] == (8, 9) for p in out)  # transposition = 2
    assert not any(6 in p[:2] or 10 in p[:2] for p in out)


def test_hashed_features_shape_and_counts(spark):
    from aws_callcenter_delta_lakehouse_spark.operators.text import (
        hashed_features,
    )

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "c"), (3, "")], "id int, text string"
    )
    out = {r.id: r for r in hashed_features(df, "id", "text", k=8).collect()}
    assert set(out) == {1, 2}  # empty doc has no tokens -> no row
    assert len(out[1]["features"]) == 8 and len(out[2]["features"]) == 8
    assert out[1]["n_tokens"] == 3 and sum(out[1]["features"]) == 3
    assert out[2]["n_tokens"] == 1 and sum(out[2]["features"]) == 1
    # same token always lands in the same bucket: 'a' counted twice in
    # one component
    assert max(out[1]["features"]) == 2
    # deterministic across invocations
    again = {r.id: r for r in hashed_features(df, "id", "text", k=8).collect()}
    assert again[1]["features"] == out[1]["features"]
