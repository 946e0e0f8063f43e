"""Distributed byte-pair-encoding merge learning + encoding.

The tokenizer-training step of an LLM data pipeline (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units",
public paper; same merge rule as GPT-2's BPE minus the byte-level
pre-mapping): repeatedly find the most frequent ADJACENT symbol pair
across the corpus and merge it into a new symbol, emitting an ordered
merge list. ``text_vocab`` (curation.py) is the word-frequency seed;
this is the merge learning it documents as the natural next step.

Spark shape — the one that scales:

- ONE corpus-wide pass total: the corpus collapses to the distinct-WORD
  frequency table (groupBy word, map-side combinable) up front; all
  ``n_merges`` rounds run over that vocabulary table, whose size is
  bounded by |vocab| regardless of corpus row count. A 10^12-doc corpus
  pays its explode once, like text_vocab.
- Per round: pair counts are a weighted explode + partial-agg shuffle of
  the vocab frame; the argmax is a TakeOrderedAndProject of ONE row
  (count desc, then lexicographic (left, right) — total order, so the
  learned merge sequence is deterministic on any partitioning); the
  merge itself rewrites only the words that can contain the pair
  (cheap array_contains pre-filter) with an Arrow-batched pandas UDF —
  greedy left-to-right within a word is inherently sequential, the
  textbook place for the vectorized-Python escape hatch.
- Lineage: each round localCheckpoints the small vocab frame (the
  connected_components convention) so ``n_merges`` rounds don't stack
  ``n_merges`` UDF plans.

Driver-side state is O(n_merges) merge rows — bounded, documented.

Correctness: exact merge-sequence equality vs a pure-Python reference
BPE on randomized corpora (tests/test_bpe.py) — the property that
matters, since any divergence in tie-breaking or counting changes every
downstream token. No end-of-word marker is appended (divergence from
Sennrich's ``</w>`` noted: merges never cross word boundaries here
either way, because pairs are built within words).

Reference parity: the upstream pipeline (bigmuddy) has no tokenizer —
this op belongs to the LLM-training-data surface the engine adds on top
(SURVEY.md §2 addendum), like text_vocab and dsir_weight.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from bmspark.functions.text import _c, tokens


def _word_counts(df: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    txt = F.lower(_c(text_col)) if lowercase else _c(text_col)
    return (
        df.select(F.explode(tokens(txt)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_pair_udf(left: str, right: str):
    """Greedy left-to-right single-pair merge over a symbol array —
    sequential within a word (overlaps: 'a a a' under (a,a) → ['aa','a'],
    never ['a','aa']), so this is the sanctioned Arrow-batched escape
    hatch; it only ever runs over the words that pass the
    array_contains(left) && array_contains(right) pre-filter."""
    from pyspark.sql.functions import pandas_udf

    merged = left + right

    @pandas_udf("array<string>")
    def merge(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ser in batches:
            out = []
            for syms in ser:
                res = []
                i, n = 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            yield pd.Series(out)

    return merge


def bpe_train(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_pair_count: int = 2,
    lowercase: bool = False,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the whitespace-tokenized corpus.

    Returns a DataFrame (rank int, left string, right string,
    pair_count long): rank r's pair was the most frequent adjacent
    symbol pair (weighted by word frequency) after applying merges
    1..r-1; ties broken by (left, right) ascending. Stops early when no
    pair reaches ``min_pair_count``.
    """
    spark = df.sparkSession
    vocab = (
        _word_counts(df, text_col, lowercase)
        .select(F.split("word", "").alias("syms"), "freq")
        .localCheckpoint(eager=True)  # corpus explode runs ONCE, here
    )
    n_parts = vocab.rdd.getNumPartitions()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = (
            pairs.orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            )
            .limit(1)  # TakeOrderedAndProject — never a global sort
            .collect()
        )
        if not top or top[0]["pair_count"] < min_pair_count:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append((rank, left, right, int(cnt)))
        can = (
            F.array_contains("syms", left)
            & F.array_contains("syms", right)
        )
        touched = vocab.filter(can).withColumn(
            "syms", _merge_pair_udf(left, right)(F.col("syms"))
        )
        vocab = (
            vocab.filter(~can)
            .unionByName(touched)
            # union CONCATENATES partition lists — without this coalesce
            # the vocab frame doubles its partition count every round
            # (2^n_merges tasks by round n); pin it to the initial layout
            .coalesce(n_parts)
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = False,
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list: per word, apply
    merges in rank order (each greedily left-to-right) — the standard
    BPE inference rule, so (train → encode on the training corpus)
    reproduces exactly the segmentation the final training round saw.

    One Arrow-batched pandas UDF pass over the corpus, no shuffle; the
    merge list rides the closure (serialized once per worker). A per-
    batch word→tokens memo keeps repeated words O(1) after first sight.

    Output: (doc_id, tokens array<string>, n_tokens int).
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict[str, list[str]] = {}

        def enc_word(word: str) -> list[str]:
            got = memo.get(word)
            if got is not None:
                return got
            syms = list(word)
            while len(syms) >= 2:
                best, best_rank = None, None
                for a, b in zip(syms, syms[1:]):
                    r = ranks.get((a, b))
                    if r is not None and (best_rank is None or r < best_rank):
                        best, best_rank = (a, b), r
                if best is None:
                    break
                left, right = best
                res, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            memo[word] = syms
            return syms

        for ser in batches:
            yield pd.Series(
                [[t for w in doc.split() for t in enc_word(w)] for doc in ser]
            )

    txt = F.coalesce(_c(text_col), F.lit(""))
    if lowercase:
        txt = F.lower(txt)
    return df.select(
        _c(id_col).alias("doc_id"), encode(txt).alias("tokens")
    ).withColumn("n_tokens", F.size("tokens"))
