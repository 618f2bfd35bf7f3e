"""Distributed BPE (byte-pair-encoding) merge training.

Engine extension surface (BASELINE.json north star; no counterpart in
the reference). Tokenizer training is a corpus-scale job: the classic
algorithm (Sennrich et al. 2016) counts adjacent symbol pairs weighted
by word frequency, merges the most frequent pair, and repeats. At
100 TB the corpus collapses to its DISTINCT-WORD frequency table in one
aggregate (Zipf: billions of tokens -> a few million distinct words),
and every round after that touches only that table — so rounds cost
(distinct words x avg word length) regardless of corpus size.

All DataFrame built-ins. The only driver interaction per round is the
argmax pair — fetched as a 1-row broadcast join, never a collect of
anything corpus-sized. Greedy left-to-right merge semantics within a
word (the standard implementation), expressed as an index-fold
(``aggregate`` over positions with a (out, skip) struct accumulator).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import set_checkpoint_dir


def _chars(col: Column) -> Column:
    """Split a word into single-character symbols."""
    return F.transform(
        F.sequence(F.lit(1), F.length(col)), lambda i: col.substr(i, F.lit(1))
    )


def _merge_pair(syms: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right replacement of adjacent (a, b) with a||b.

    Index fold: accumulator is (out array, skip flag); when position i
    matches (a, b) the merged symbol is emitted and position i+1 is
    consumed. Words are short (symbols ~ chars), so the per-step array
    concat is cheap and bounded by word length."""
    step = lambda acc, i: (  # noqa: E731
        F.when(acc["skip"], F.named_struct(F.lit("out"), acc["out"], F.lit("skip"), F.lit(False)))
        .when(
            (F.element_at(syms, i) == a)
            # try_element_at: i+1 runs one past the end and Spark 4's
            # ANSI mode throws on out-of-bounds element_at
            & (F.coalesce(F.try_element_at(syms, i + 1) == b, F.lit(False))),
            F.named_struct(
                F.lit("out"),
                F.concat(acc["out"], F.array(F.concat(a, b))),
                F.lit("skip"),
                F.lit(True),
            ),
        )
        .otherwise(
            F.named_struct(
                F.lit("out"),
                F.concat(acc["out"], F.array(F.element_at(syms, i))),
                F.lit("skip"),
                F.lit(False),
            )
        )
    )
    return F.aggregate(
        F.sequence(F.lit(1), F.size(syms)),
        F.named_struct(
            F.lit("out"),
            F.array().cast("array<string>"),
            F.lit("skip"),
            F.lit(False),
        ),
        step,
        lambda acc: acc["out"],
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    rounds: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Learn ``rounds`` BPE merges from a corpus; returns one row per
    merge: (round, pair_a, pair_b, merged, freq) with ``freq`` the
    corpus-weighted adjacent-pair count that round. Ties break
    lexicographically on (pair_a, pair_b) so the result is
    deterministic across engines and partitionings.

    Per round: one pair-count aggregate over the distinct-word table
    (map-side combined; weights carry the word frequencies) and one
    projection applying the merge. The word table is re-materialized
    each round — the merge lambda otherwise re-derives every previous
    round per downstream job. ``checkpoint_dir``: when set, that
    materialization is a RELIABLE ``df.checkpoint()`` (cluster-safe —
    an executor loss mid-training recomputes from the checkpoint, not
    from round 0); when None, executor-local ``localCheckpoint`` (the
    local-mode fast path). Same contract as ``connected_components``.
    """
    set_checkpoint_dir(df.sparkSession, checkpoint_dir)

    def _materialize(d: DataFrame) -> DataFrame:
        return (
            d.checkpoint()
            if checkpoint_dir is not None
            else d.localCheckpoint(eager=True)
        )

    words = _materialize(
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(_chars(F.col("w")).alias("syms"), "freq")
    )
    merges = []
    for r in range(1, rounds + 1):
        pairs = (
            words.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.named_struct(
                            F.lit("a"),
                            F.element_at(F.col("syms"), i),
                            F.lit("b"),
                            F.element_at(F.col("syms"), i + 1),
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1)
        best = top.select(
            F.lit(r).alias("round"),
            F.col("a").alias("pair_a"),
            F.col("b").alias("pair_b"),
            F.concat("a", "b").alias("merged"),
            F.col("n").alias("freq"),
        )
        best = _materialize(best)
        merges.append(best)
        words = _materialize(
            words.join(F.broadcast(best.select("pair_a", "pair_b")))
            .select(
                _merge_pair(
                    F.col("syms"), F.col("pair_a"), F.col("pair_b")
                ).alias("syms"),
                "freq",
            )
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def bpe_apply(
    df: DataFrame,
    text_col: str,
    merges: DataFrame,
    rounds: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Tokenize a corpus with a learned merge list: every word starts
    as characters and each merge (in training order) is applied with
    the same greedy left-to-right semantics the trainer used. Returns
    the (token, count) vocabulary distribution of the tokenized corpus.

    The merge list stays a DataFrame — each round's (pair_a, pair_b)
    reaches the words as a 1-row broadcast join, so nothing is ever
    collected to the driver (a real tokenizer's merge table is exactly
    this broadcast, just wider). ``checkpoint_dir``: reliable per-round
    checkpointing, same contract as :func:`bpe_train`."""
    set_checkpoint_dir(df.sparkSession, checkpoint_dir)

    def _materialize(d: DataFrame) -> DataFrame:
        return (
            d.checkpoint()
            if checkpoint_dir is not None
            else d.localCheckpoint(eager=True)
        )

    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(_chars(F.col("w")).alias("syms"), "freq")
    )
    for r in range(1, rounds + 1):
        step = F.broadcast(
            merges.where(F.col("round") == r).select("pair_a", "pair_b")
        )
        words = _materialize(
            words.join(step).select(
                _merge_pair(
                    F.col("syms"), F.col("pair_a"), F.col("pair_b")
                ).alias("syms"),
                "freq",
            )
        )
    return (
        words.select(F.explode("syms").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("count"))
    )
