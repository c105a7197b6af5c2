"""Byte-pair-encoding merge training over a distributed corpus.

Tokenizer training is a first-class step of an LLM data pipeline
(Sennrich et al. 2016; GPT-2's BPE). The classic algorithm is
inherently iterative — repeatedly merge the most frequent adjacent
symbol pair — and the scale insight is that after ONE pass over the
corpus it operates entirely on the WORD-FREQUENCY table:

    corpus --one hash agg--> (word, count)        # vocab-sized
    repeat n_merges times over the word table:
        count adjacent symbol pairs (weighted by word count)
        argmax pair  -> a model-sized driver scalar
        rewrite each word's symbol array (left-to-right, greedy)

so a 100 TB corpus is scanned exactly once, and the merge loop runs
over millions of distinct words, not trillions of tokens. Each round
rewrites via one whole-stage-codegen ``aggregate`` fold and is
``localCheckpoint``'d (the ``components.py`` discipline — lineage
would otherwise grow by one fold per round), with the previous
round's blocks released.

Ties in pair frequency break lexicographically, so training is fully
deterministic — verified in tests against a pure-Python reference
implementation on the same data. ``bpe_encode`` applies the learned
ranks with the standard lowest-rank-first algorithm inside an
Arrow-batched pandas UDF (per-word Python loop over a dict of ranks —
the hot path any real tokenizer uses).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from computer_vision_foundations_spark.operators._iterative import Rounds

__all__ = ["bpe_word_counts", "bpe_train", "bpe_encode"]


def bpe_word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, cnt)`` — the single corpus pass BPE trains from."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _apply_merge(sym_col: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b):
    fold that replaces the accumulator's last element when it is ``a``
    and the incoming symbol is ``b``. A merge RESULT never re-matches
    as ``a`` within the same pass unless it literally equals ``a``
    (impossible: a+b != a for non-empty b), which is exactly the
    classic semantics."""
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges; returns them in training order.

    Stops early when no adjacent pair reaches ``min_pair_count``.
    Driver state is the merge list (model-sized); per round the
    cluster does one pair-count aggregate (shuffle carries (pair,
    long) rows) and one narrow rewrite projection."""
    words = bpe_word_counts(df, text_col).select(
        F.split(F.col("word"), "").alias("syms"), "cnt"
    )
    merges: list[tuple[str, str]] = []
    with Rounds() as rounds:
        words = ckpt = rounds.checkpoint(words)
        # Checkpoint every CKPT_EVERY rounds, not every round (the LPA
        # every-other-round discipline, round-12): the word table is
        # vocab-sized, so re-evaluating ≤ CKPT_EVERY−1 pending rewrite
        # folds inside the next argmax job is far cheaper than the
        # per-round materialization job it replaces — the merge loop's
        # cost at gate SF was the 2·n_merges sequential jobs, not the
        # folds. The argmax collect reads through the pending lazy
        # rewrites, so the merge SEQUENCE is unchanged.
        ckpt_every = 4
        pending = 0
        for _ in range(n_merges):
            pairs = (
                words.select(
                    "cnt",
                    F.explode(
                        F.zip_with(
                            F.slice(F.col("syms"), 1, F.size("syms") - 1),
                            F.slice(F.col("syms"), 2, F.size("syms") - 1),
                            lambda l, r: F.struct(l.alias("a"), r.alias("b")),
                        )
                    ).alias("p"),
                )
                .groupBy("p")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), F.col("p.a").asc(), F.col("p.b").asc())
                .limit(1)
                .collect()
            )
            if not pairs or pairs[0]["n"] < min_pair_count:
                break
            a, b = pairs[0]["p"]["a"], pairs[0]["p"]["b"]
            merges.append((a, b))
            words = words.select(
                _apply_merge(F.col("syms"), a, b).alias("syms"), "cnt"
            )
            pending += 1
            if pending >= ckpt_every:
                words = ckpt = rounds.advance(ckpt, words)
                pending = 0
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with learned merges: per word, repeatedly merge the
    LOWEST-RANK adjacent pair (the standard encode algorithm — rank
    order reproduces training exactly). Arrow-batched; whitespace
    pre-tokenization matches training."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            # merge ALL non-overlapping occurrences of this pair,
            # left to right (training merged them in one pass)
            a, b = syms[best], syms[best + 1]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    # per-worker memo: corpora are Zipfian, so each distinct word is
    # encoded once per worker instead of once per occurrence (pure
    # function of the word — results unchanged; vocab-bounded memory)
    memo: dict[str, list[str]] = {}

    def _enc(w: str) -> list[str]:
        toks = memo.get(w)
        if toks is None:
            toks = encode_word(w)
            memo[w] = toks
        return toks

    @pandas_udf(T.ArrayType(T.StringType()))
    def encode_udf(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: [
                tok
                for w in t.split(" ")
                if w
                for tok in _enc(w)
            ]
        )

    return df.withColumn(out_col, encode_udf(F.col(text_col)))
