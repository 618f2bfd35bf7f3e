"""BPE merge training: exact parity against a pure-Python reference
implementation of the classic algorithm (Sennrich et al. 2016 greedy
merges with lexicographic tie-break)."""

from __future__ import annotations

import pytest

from collections import Counter

from aws_callcenter_delta_lakehouse_spark.catalog import load_table
from aws_callcenter_delta_lakehouse_spark.operators.bpe import bpe_train
from aws_callcenter_delta_lakehouse_spark.operators.materialize import CUT_DIR_CONF
from tests.conftest import SF001


def _python_bpe(word_freqs: dict[str, int], rounds: int):
    """Reference BPE: greedy left-to-right merge, ties broken by
    (pair_a, pair_b) lexicographically."""
    words = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for r in range(1, rounds + 1):
        pair_counts: Counter = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += f
        if not pair_counts:
            break
        best = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        (a, b), n = best
        merges.append((r, a, b, a + b, n))
        new_words: dict[tuple, int] = {}
        for syms, f in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_words[key] = new_words.get(key, 0) + f
        words = new_words
    return merges


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_bpe_matches_python_reference(spark):
    docs = load_table(spark, SF001, "documents")
    got = sorted(
        (r["round"], r["pair_a"], r["pair_b"], r["merged"], r["freq"])
        for r in bpe_train(docs, "text", rounds=5).collect()
    )
    freqs: Counter = Counter()
    for row in docs.select("text").collect():
        for w in row.text.split(" "):
            if w:
                freqs[w] += 1
    want = sorted(_python_bpe(dict(freqs), 5))
    assert got == want


def test_bpe_known_toy_corpus(spark):
    df = spark.createDataFrame(
        [("low low low lower lowest",), ("low lower newest newest",)],
        ["text"],
    )
    rows = {r["round"]: (r.pair_a, r.pair_b, r.merged) for r in bpe_train(df, "text", rounds=2).collect()}
    # 'lo' is in every word (freq 9); then 'lo'+'w' (freq 9).
    assert rows[1] == ("l", "o", "lo")
    assert rows[2] == ("lo", "w", "low")


def _python_apply(word_freqs: dict[str, int], merges):
    """Tokenize with the learned merges, in order; return token counts."""
    from collections import Counter

    counts: Counter = Counter()
    for w, f in word_freqs.items():
        syms = list(w)
        for _, a, b, _m, _n in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        for s in syms:
            counts[s] += f
    return counts


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_bpe_apply_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from aws_callcenter_delta_lakehouse_spark.operators.bpe import bpe_apply

    docs = load_table(spark, SF001, "documents")
    merges_df = bpe_train(docs, "text", rounds=3)
    toks = {
        r.token: r["count"]
        for r in bpe_apply(docs, "text", merges_df, rounds=3).collect()
    }

    freqs: Counter = Counter()
    for row in docs.select("text").collect():
        for w in row.text.split(" "):
            if w:
                freqs[w] += 1
    merges = _python_bpe(dict(freqs), 3)
    want = _python_apply(dict(freqs), merges)
    assert toks == dict(want)


@pytest.mark.slow  # redundancy-class battery: covered by faster siblings in the default run
def test_bpe_train_reliable_checkpoint_parity(spark, tmp_path):
    # reliable-cut mode (the cut-dir conf set: df.checkpoint, cluster-
    # safe) must produce byte-identical merges to the localCheckpoint
    # fast path
    docs = load_table(spark, SF001, "documents")
    fast = sorted(tuple(r) for r in bpe_train(docs, "text", rounds=3).collect())
    spark.conf.set(CUT_DIR_CONF, str(tmp_path / "ckpt"))
    try:
        reliable = sorted(
            tuple(r) for r in bpe_train(docs, "text", rounds=3).collect()
        )
    finally:
        spark.conf.unset(CUT_DIR_CONF)
    assert fast == reliable
