"""Exact-substring duplicate SPAN detection — the "dedup inside the
document" companion to whole-doc near-dup (minhash/simhash/embedding).

Training-data pipelines remove repeated passages (boilerplate,
licenses, templated headers) that whole-document dedup can't touch:
the canonical approach is a corpus-level suffix array over the token
stream (Lee et al., "Deduplicating Training Data Makes Language
Models Better"). A literal suffix array is a single giant sorted
structure — wrong shape for a shared-nothing engine. The Spark-first
equivalence: a token n-gram appears at ≥2 corpus positions iff the
two positions share an exact n-token substring, so

1. emit every overlapping token n-gram hash WITH its position
   (posexplode over an array expression — computed in the scan
   stage, one shuffle row per gram);
2. one groupBy(gram_hash) count — map-side combined — keeps hashes
   seen ≥ min_count times corpus-wide;
3. join positions back on the duplicated hashes (AQE handles the
   skewed gram — a boilerplate line repeated 10⁹ times is one hot
   key);
4. per-document island merge: overlapping/adjacent duplicated gram
   positions fold into maximal spans via a doc-partitioned running
   max — no global window anywhere.

Grams travel as xxhash64 longs, never strings: the shuffle carries
16 bytes/gram instead of the text. A 64-bit collision marks one
false duplicate gram pair per ~2³² grams (birthday bound) — at 100 TB
use the (hash, length) pair or a second seed to push it further out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shmr_spark.session import materialize


def _gram_hashes(text: Column | str, n: int) -> Column:
    """array<long> of xxhash64 over each overlapping n-token gram of
    ``text`` (space tokenization), empty when the doc has < n tokens.
    Pure expression — evaluated inside the scan stage.

    Built as a zip_with concat chain over shifted copies of the token
    array (the shingle_ngrams construction, dedup/minhash.py) rather
    than transform(sequence)+slice+array_join: the chain concatenates
    incrementally instead of re-slicing and re-joining n tokens per
    position (r12 measurement at sf0.1, n=13: 1.24 → 1.12 s for the
    gram pass, identical rows). Null tails from zip_with's padding are
    dropped by array_compact before hashing — token strings from
    split() are never null, so no interior element is removed."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    grams = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, 2_000_000_000)
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = F.transform(F.array_compact(grams), lambda g: F.xxhash64(g))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document: one row
    (id, span_start, span_end, n_grams) per contiguous region covered
    by token n-grams that occur ≥ ``min_count`` times corpus-wide
    (within-doc repeats count). Token indices are 0-based inclusive;
    n_grams is how many duplicated grams the span merged."""
    # materialized because both the duplicate-count aggregation and
    # the join-back consume it — without this the scan + gram build
    # (the expensive part: |tokens| string slices + hashes per doc)
    # runs twice. Measured 3× at sf0.1 (7.5 s → 2.6 s). 16 bytes/row.
    grams = F.posexplode(_gram_hashes(text_col, n)).alias("pos", "gh")
    g = materialize(docs.select(F.col(id_col), grams))
    dup = (
        g.groupBy("gh")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gh")
    )
    hits = g.join(dup, "gh").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    end = F.col("pos") + F.lit(n - 1)
    prev_max_end = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-2)) + 1, 1)
        .otherwise(0)
        .alias("__brk")
    )
    islands = hits.select(id_col, "pos", brk).withColumn(
        "__island", F.sum("__brk").over(w)
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .drop("__island")
    )


def duplicate_span_stats(
    docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplication summary over duplicated_ngram_spans:
    (id, n_tokens, dup_tokens, dup_ratio). Docs with no duplicated
    span report 0/0.0 — the left join keeps them."""
    spans = duplicated_ngram_spans(docs, n, id_col, text_col, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens")
    )
    base = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens")
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_ratio"),
    )
