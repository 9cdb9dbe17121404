"""Byte-pair-encoding vocabulary training over a corpus, Spark-first.

Classic BPE (Sennrich et al.) never iterates over the corpus: it
iterates over the WORD-FREQUENCY table. That is the scale hinge this
module is built around:

1. one corpus-sized aggregation produces (word, count) — map-side
   combined, the only pass that touches every token;
2. each merge iteration runs on the distinct-word table (vocab-sized,
   ~10⁵ rows no matter how many TB the corpus is): count adjacent
   symbol pairs weighted by word frequency, pick the argmax, rewrite
   the symbol arrays;
3. exactly ONE row (the winning pair) is collected per iteration —
   MLlib economics, same as the k-means centroid loop.

The in-word merge rewrite is a left-to-right fold (F.aggregate) over
the symbol array — non-overlapping, leftmost-first, the reference BPE
rule ("aaa" + merge (a,a) → ["aa","a"]). Ties on count break by
lexicographic pair order so training is deterministic.

``encode_bpe`` applies a learned merge list to documents the same
way a production tokenizer does: encode each DISTINCT word once (the
Python loop runs on the vocab-sized table, Arrow-batched), then
broadcast-join the encodings back onto the corpus. The corpus itself
is never touched by Python.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shmr_spark.session import materialize


def word_counts(
    docs: DataFrame, text_col: str = "text", min_len: int = 2
) -> DataFrame:
    """(word, n) over space-tokenized text — the single corpus-sized
    pass of BPE training. Words shorter than ``min_len`` chars carry
    no pairs and are dropped."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") >= min_len)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _char_split(word: Column) -> Column:
    """array<string> of single characters (split on empty regex keeps
    no empty edge tokens in Spark 4)."""
    return F.filter(F.split(word, ""), lambda c: c != F.lit(""))


def adjacent_pair_counts(syms_df: DataFrame) -> DataFrame:
    """(a, b, n): corpus-weighted counts of adjacent symbol pairs in a
    (syms: array<string>, n: long) table. Vocab-sized shuffle."""
    pairs = syms_df.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - F.lit(1)),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("a"),
                    F.element_at("syms", i + 1).alias("b"),
                ),
            )
        ).alias("p"),
        "n",
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("n").alias("n"))


def _merge_fold(a: str, b: str) -> Column:
    """Rewrite a symbol array applying merge (a, b) left-to-right,
    non-overlapping: fold that either replaces the accumulator's last
    element (when it is exactly ``a`` and the incoming symbol is
    ``b``) or appends."""
    merged = F.lit(a + b)
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    num_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list [(a, b), ...]. Each iteration shuffles only the
    vocab-sized symbol table and collects one row."""
    wc = word_counts(docs, text_col)
    syms = wc.select(_char_split(F.col("word")).alias("syms"), "n")
    # the symbol table is re-derived num_merges times; pin it each
    # round so plans don't nest
    syms = materialize(syms)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        top = (
            adjacent_pair_counts(syms)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        syms = materialize(
            syms.select(_merge_fold(a, b).alias("syms"), "n")
            .filter(F.size("syms") >= 2)
        )
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference BPE encode of one word: repeatedly apply the
    lowest-rank applicable merge, left-to-right non-overlapping."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank = None
        best = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, pair
        if best is None:
            break
        a, b = best
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


def encode_bpe(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, tokens): BPE-encode documents with a learned
    merge list. Python runs only over the DISTINCT words (vocab-sized,
    Arrow-batched mapInPandas); the corpus-sized side is explode +
    broadcast-join + collect_list, all JVM."""
    import pandas as pd

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["toks"] = [_encode_word(w, ranks) for w in pdf["word"]]
            yield pdf[["word", "toks"]]

    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).distinct()
    encoded = words.mapInPandas(enc, schema="word string, toks array<string>")

    exploded = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    joined = exploded.join(F.broadcast(encoded), "word")
    return (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "toks"))
                ).getField("toks")
            ).alias("tokens")
        )
        .select(
            id_col,
            F.size("tokens").cast("long").alias("n_tokens"),
            "tokens",
        )
    )
