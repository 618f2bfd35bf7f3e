"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, fingerprinting (BASELINE.json north star).

Everything is built-in Column expressions — the hot path never leaves
the JVM. Language ID is a two-pass DataFrame computation (profile
build + scoring) with no driver-side collect, so the profile build
scales with a single (lang, word) aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import round_portable
from .materialize import cut_once

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


def _words(text):
    return F.split(text, " ")


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + char count + avg token length."""
    words = _words(F.col(text_col))
    return df.select(
        id_col,
        F.size(words).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        round_portable(
            (F.length(text_col) - F.size(words) + 1) / F.size(words), 4
        ).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality in [0,1]:
    0.5 * min(tokens/50, 1)            (enough content)
    + 0.3 * (1 - stopword_ratio)       (information density)
    + 0.2 * min(distinct_ratio*2, 1)   (vocabulary diversity)
    All ratios are exact rationals (bigint/bigint) so the score is
    engine-portable."""
    words = _words(F.col(text_col))
    n = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n_distinct = F.size(F.array_distinct(words))
    score = (
        0.5 * F.least(n / F.lit(50.0), F.lit(1.0))
        + 0.3 * (1 - n_stop / n)
        + 0.2 * F.least(n_distinct / n * 2, F.lit(1.0))
    )
    return df.select(
        id_col,
        n.alias("n_tokens"),
        round_portable(n_stop / n, 4).alias("stopword_ratio"),
        round_portable(score, 4).alias("quality_score"),
    )


def language_profiles(
    df: DataFrame, lang_col: str, text_col: str, top_n: int = 10
) -> DataFrame:
    """(lang, word) profile: the top-N most frequent words per language
    (count desc, word asc tiebreak). One aggregate + one window."""
    counts = (
        df.select(lang_col, F.explode(_words(F.col(text_col))).alias("word"))
        .groupBy(lang_col, "word")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(lang_col).orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(lang_col, "word")
    )


def language_id(
    df: DataFrame,
    id_col: str,
    text_col: str,
    profiles: DataFrame,
    lang_col: str = "lang",
) -> DataFrame:
    """Score each doc against each language profile (fraction of tokens
    that hit the profile, bag semantics) and pick the argmax
    (score desc, lang asc). Join fans out by |langs| — the profile side
    is tiny, so Spark broadcasts it."""
    # cut once: the token-count agg and the profile-hit join both read
    # the exploded token table — uncut, the corpus word explode ran
    # twice per scoring pass (r13 opt, guide §2.4)
    toks = cut_once(df.select(
        id_col, F.explode(_words(F.col(text_col))).alias("word")
    ))
    n_tokens = toks.groupBy(id_col).agg(F.count("*").alias("n"))
    hits = (
        toks.join(F.broadcast(profiles), on="word")
        .groupBy(id_col, lang_col)
        .agg(F.count("*").alias("h"))
    )
    scored = hits.join(n_tokens, on=id_col).select(
        id_col, lang_col, (F.col("h") / F.col("n")).alias("score")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc(lang_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col(lang_col).alias("predicted_lang"))
    )


# RE2-safe patterns (no backrefs/lookarounds) — the common subset of
# Java regex (Spark) and RE2 (DuckDB/Go tooling), so oracles can mirror
# them verbatim.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "<SSN>"),
    ("phone", r"\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
)


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing for training corpora: replace emails, SSNs and
    phone numbers with typed placeholders, and count the redactions
    (the audit signal a compliance pipeline keeps). Order matters: SSN
    before phone, since every SSN also matches the looser phone shape.
    Pure regexp_replace/regexp_count Column ops — JVM-side projection,
    no shuffle."""
    redacted = F.col(text_col)
    n_redactions = F.lit(0)
    for _, pat, rep in PII_PATTERNS:
        n_redactions = n_redactions + F.regexp_count(redacted, F.lit(pat))
        redacted = F.regexp_replace(redacted, pat, rep)
    return df.select(
        id_col,
        redacted.alias("clean_text"),
        n_redactions.alias("n_redactions"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 20,
    overlap: int = 5,
) -> DataFrame:
    """Sliding-window chunking for training examples: word windows of
    ``chunk_size`` with ``overlap`` words shared between consecutive
    chunks (stride = chunk_size - overlap). The final chunk clamps at
    the document end. One explode — output rows ~= tokens/stride per
    doc; everything else is array projection."""
    stride = chunk_size - overlap
    words = _words(F.col(text_col))
    n = F.size(words)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(stride))
    # named_struct: aliases inside higher-order-function lambdas don't
    # survive analysis (fields would come out as `col`)
    chunks = F.transform(
        starts,
        lambda s: F.named_struct(
            F.lit("chunk_text"),
            F.array_join(F.slice(words, s, chunk_size), " "),
            F.lit("n_tokens"),
            F.size(F.slice(words, s, chunk_size)),
        ),
    )
    exploded = df.select(id_col, F.posexplode(chunks).alias("chunk_id", "c"))
    return exploded.select(
        id_col,
        "chunk_id",
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document top-k TF-IDF terms: tf = in-doc term count, idf =
    ln(N/df) with df = docs containing the term. Two aggregates (term
    counts, document frequency) + a broadcast scalar N + one window for
    the top-k; ranking uses the ROUNDED score so cross-engine double
    noise cannot flip the k-th row. Shuffles on (doc, term) then term —
    both keys well-distributed."""
    terms = df.select(
        id_col, F.explode(_words(F.col(text_col))).alias("term")
    )
    # NOTE (r13 opt): tf feeds two consumers, but its aggregate ends at
    # an exchange both branches share — ReusedExchange already dedupes
    # it; an explicit cut was tried and measured SLOWER.
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.groupBy("term").agg(F.count("*").alias("df"))
    )
    n_docs = df.agg(F.countDistinct(id_col).alias("__n"))
    scored = (
        tf.join(dfreq, on="term")
        .join(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            round_portable(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), round_digits
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tfidf", F.col("rn").alias("rank"))
    )


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, per document:
    - top_bigram_frac: occurrences of the most frequent bigram / total
      bigrams (Gopher flags > 0.18)
    - dup_trigram_frac: 1 - distinct/total trigrams
    Pure array projection (transform/filter over the per-doc gram list,
    O(distinct x total) per row — documents are bounded); counts are
    exact integers so the ratios are engine-portable single divisions."""
    words = _words(F.col(text_col))

    def grams(n):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j) for j in range(n)]
            ),
        )

    # Materialize the gram arrays in their OWN projection: referencing
    # an expression (not an attribute) inside a higher-order-function
    # lambda re-evaluates the whole gram construction PER ELEMENT —
    # O(len^3) per row (this exact op ran 160x slower before the split;
    # CollapseProject keeps the split because the refs are non-cheap
    # and multiply used).
    staged = df.filter(F.size(words) >= 3).select(
        id_col, grams(2).alias("__bi"), grams(3).alias("__tri")
    )
    bi, tri = F.col("__bi"), F.col("__tri")
    top_bi = F.array_max(
        F.transform(
            F.array_distinct(bi),
            lambda x: F.size(F.filter(bi, lambda y: y == x)),
        )
    )
    return staged.select(
        id_col,
        (top_bi / F.size(bi)).alias("top_bigram_frac"),
        (1 - F.size(F.array_distinct(tri)) / F.size(tri)).alias("dup_trigram_frac"),
    )


def _gram_hashes(text_col: str, n: int = 3, portable: bool = False):
    """Hash per word n-gram, in document order (array Column).

    ``portable=False`` (default): xxhash64 — the cheapest JVM hash, the
    production path. ``portable=True``: the low 60 bits of md5 (same
    value in every engine that has md5 — DuckDB, Trino, Spark), which
    makes downstream fingerprints oracle-checkable; ~2x hash cost,
    still JVM-side and codegen'd."""
    words = _words(F.col(text_col))

    def _hash(gram):
        if portable:
            return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("bigint")
        return F.xxhash64(gram)

    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda i: _hash(
            F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)])
        ),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
    portable: bool = False,
) -> DataFrame:
    """TRUE winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003, the
    MOSS fingerprint): hash every word ``n``-gram, slide a window of
    ``window`` consecutive hashes, select the min of each window; the
    fingerprint is the distinct set of selected hashes (sorted for
    determinism). Guarantee: two documents sharing any run of
    ``window + n - 1`` consecutive words share >= 1 fingerprint, and a
    single-word edit only disturbs the <= window + n - 1 windows that
    overlap it — unlike a global min-hash (k=1 MinHash), which a single
    edit can replace wholesale.

    All built-in array ops (transform/slice/array_min) — JVM-side,
    no shuffle: two stacked projections per document. The gram-hash
    array is materialized as a column FIRST: sliding the window over
    the raw gram expression would re-hash every gram per window
    position (lambda bodies re-evaluate embedded expressions per
    element — O(len^2) hashes per row)."""
    staged = df.select(
        id_col, _gram_hashes(text_col, n, portable=portable).alias("__grams")
    )
    grams = F.col("__grams")
    m = F.size(grams)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (window - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(grams, i, window)),
    )
    return staged.select(
        id_col,
        F.array_sort(F.array_distinct(wins)).alias("winnow_fps"),
    )


def fingerprint(
    df: DataFrame, id_col: str, text_col: str, window: int = 4
) -> DataFrame:
    """Content fingerprints: md5 (engine-portable exact-dup key) +
    windowed-winnowing hash set over word 3-grams (robust to small,
    local edits — see ``winnow_fingerprints``)."""
    grams = _gram_hashes(text_col, 3)
    m = F.size(grams)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (window - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(grams, i, window)),
    )
    return df.select(
        id_col,
        F.md5(text_col).alias("md5_fingerprint"),
        F.array_sort(F.array_distinct(wins)).alias("winnow_fps"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str, lm: DataFrame | None = None
) -> DataFrame:
    """CCNet-style language-model quality signal with a unigram LM:
    per-document mean token log-probability and perplexity. ``lm`` is a
    (word, logp) model; default trains on the scored corpus itself
    (closed vocabulary, so no smoothing term is ever hit — a held-out
    reference LM can be passed for true CCNet filtering).

    Scale (100 TB): the vocabulary can be arbitrarily large, so model
    lookup is a shuffle hash join on the word key (never a broadcast
    dictionary); scoring is one word-keyed join + one doc-keyed
    aggregate. The corpus total enters the model as a broadcast
    scalar."""
    # NOTE (r13 opt): words feeds the LM agg and the scoring join; a
    # materializing cut was tried and measured SLOWER (re-exploding is
    # cheaper than writing+reading the exploded blocks).
    words = df.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("word")
    )
    if lm is None:
        counts = words.groupBy("word").agg(F.count("*").alias("__c"))
        total = counts.agg(F.sum("__c").alias("__t"))
        lm = counts.join(F.broadcast(total), F.lit(True)).select(
            "word", F.log(F.col("__c") / F.col("__t")).alias("logp")
        )
    return (
        words.join(lm, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg("logp").alias("avg_logprob"),
        )
    )


def hashed_linear_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 2001,
) -> DataFrame:
    """fastText-style hashed-feature linear quality model: each word
    hashes into one of ``buckets`` weight slots, the document's raw
    score is the mean slot weight, and the keep-probability is its
    sigmoid — the shape of the model-based quality filters used by
    GPT-3/CCNet-era pipelines (a trained model would broadcast a real
    weight table keyed by the same hash; here the weights are the
    deterministic pseudo-random values ``(h % buckets - (buckets-1)/2) /
    ((buckets-1)/2)`` so both engines can recompute them).

    Pure projection — no join, no shuffle, no UDF: the hash is the
    engine-portable md5-prefix integer, the mean is an array aggregate
    over the materialized weight array (the split and the weights are
    each built in their OWN select so no per-element re-evaluation of
    the split occurs). Returns (id, n_words, raw_score, keep_prob).
    """
    half = (buckets - 1) // 2
    words = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("l"))
    weights = words.select(
        id_col,
        F.size("l").alias("n_words"),
        F.transform(
            "l",
            lambda w: (
                F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
                % buckets
                - half
            )
            / F.lit(float(half)),
        ).alias("wts"),
    )
    raw = weights.select(
        id_col,
        "n_words",
        (
            F.aggregate(
                "wts", F.lit(0.0), lambda acc, x: acc + x
            )
            / F.col("n_words")
        ).alias("raw"),
    )
    return raw.select(
        id_col,
        "n_words",
        F.col("raw").alias("raw_score"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("raw")))).alias("keep_prob"),
    )


def rake_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: Sequence[str],
    top_k: int = 20,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens; each word scores
    degree/frequency (degree = summed length of the phrases its
    occurrences sit in), and a phrase scores the sum of its members'
    scores. Returns the corpus top-``top_k`` phrases by score
    (tie-broken on the phrase text) with ``n_words``, ``n_docs`` and
    ``score_micro``.

    Determinism: phrase runs come from the gaps-and-islands index
    trick (pos - row_number over non-stop words — pure integers, no
    regex-boundary subtleties), and scores stay INTEGER end to end:
    score_micro(w) = degree * 1_000_000 DIV freq, phrase score = the
    exact BIGINT sum — no float summation order anywhere, so a SQL
    oracle replays it bit-for-bit. Scale: tokenize/explode is per-row;
    word stats are one hash aggregate on the word; the phrase
    reassembly shuffles on (doc, run) — token-bounded, text never
    joins against text."""
    words = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
            ).alias("__pos", "__w"),
        )
        .filter(F.col("__w") != "")
    )
    nonstop = words.filter(~F.col("__w").isin(*[s for s in stopwords]))
    w_run = Window.partitionBy("__id").orderBy("__pos")
    # cut the multi-referenced stages once each (r13 opt, guide §2.4):
    # runs feeds plen + members, plen feeds members + scored, members
    # feeds wstats + pscore — uncut, the tokenize/window pipeline ran
    # up to 6x per execution (SQL-metric evidence)
    runs = cut_once(nonstop.withColumn(
        "__grp", F.col("__pos") - F.row_number().over(w_run)
    ))
    plen = cut_once(runs.groupBy("__id", "__grp").agg(
        F.count("*").alias("__plen"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__w"))),
                lambda s: s["__w"],
            ),
            " ",
        ).alias("phrase"),
    ))
    members = cut_once(runs.join(
        plen.select("__id", "__grp", "__plen"), on=["__id", "__grp"]
    ))
    wstats = members.groupBy("__w").agg(
        F.count("*").cast("bigint").alias("__freq"),
        F.sum("__plen").cast("bigint").alias("__deg"),
    )
    wscore = wstats.select(
        "__w",
        F.expr("CAST(__deg * 1000000 DIV __freq AS BIGINT)").alias("__ws"),
    )
    pscore = (
        members.join(wscore, on="__w")
        .groupBy("__id", "__grp")
        .agg(F.sum("__ws").alias("__ps"))
    )
    scored = plen.join(pscore, on=["__id", "__grp"])
    return (
        scored.groupBy("phrase")
        .agg(
            F.first("__plen").cast("bigint").alias("n_words"),
            F.countDistinct("__id").cast("bigint").alias("n_docs"),
            F.first("__ps").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(top_k)
    )


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 64,
    sep: str = " ",
) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. 2009 — the Vowpal-Wabbit
    featurizer): each document becomes a fixed ``k``-dimensional
    integer count vector, component j = number of tokens whose
    portable-md5 hash lands in bucket j. No vocabulary pass, no
    fit/transform state, bounded memory at any corpus size — the
    train-ready featurization that needs exactly one projection plus
    one (id, bucket) aggregate. The bucket hash is the repo PORTABLE
    pattern (low-60-bit md5), so a SQL oracle replays every component.

    Returns (id, n_tokens, features array<int> of length k). Built-ins
    only: split/explode/hash aggregate + a map-backed array fill; the
    per-doc state is the doc's own distinct-bucket list, never k
    columns through the shuffle."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(F.split(F.col(text_col), sep)).alias("__w"),
    ).filter(F.col("__w") != "")
    bucket = F.pmod(
        F.conv(F.substring(F.md5("__w"), 1, 15), 16, 10).cast("bigint"),
        F.lit(k),
    ).cast("int")
    counts = (
        toks.select("__id", bucket.alias("__b"))
        .groupBy("__id", "__b")
        .agg(F.count("*").cast("int").alias("__n"))
    )
    per_doc = counts.groupBy("__id").agg(
        F.sum("__n").cast("bigint").alias("n_tokens"),
        F.map_from_entries(
            F.collect_list(F.struct("__b", "__n"))
        ).alias("__m"),
    )
    # try_element_at: ANSI element_at THROWS on a missing MAP key
    # (trap 9's map sibling) — absent buckets must read 0
    features = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda b: F.coalesce(
            F.try_element_at("__m", b.cast("int")), F.lit(0)
        ),
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        features.alias("features"),
    )
