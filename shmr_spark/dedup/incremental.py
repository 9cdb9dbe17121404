"""Incremental (append-only) exact dedup: dedup an incoming batch
against the persisted fingerprint state of the already-accepted
corpus, without re-reading the corpus texts.

This is the production shape at 100 TB: the corpus is never
re-deduplicated wholesale — each ingest batch is checked against a
small-per-row FINGERPRINT table (fp, keeper_id) that grows
append-only. Plan shape per batch:

1. fingerprint the batch in its scan stage (md5 of normalized text,
   same normalization as dedup/exact — a batch fp equals a state fp
   iff the texts are exact duplicates);
2. batch-internal first-wins (one shuffle on fp);
3. LEFT ANTI join survivors against the state on fp — the only
   contact with history, and it touches fingerprints, not texts.
   At scale, write the state bucketed by fp (bucketBy) so this join
   co-locates without a state-side shuffle;
4. the survivors' (fp, id) rows ARE the state delta — append them.

The reference has no incremental surface (its datasets are immutable
file globs, /root/reference/shmr/partitions.py:13-24); this extends
the exact-dedup capability the way an ingest pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shmr_spark.functions.hashing import fingerprint_md5
from shmr_spark.session import materialize


def incremental_dedup_exact(
    new_docs: DataFrame,
    state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Rows of ``new_docs`` that survive dedup against ``state`` and
    against the batch itself (first-wins by id), with their ``__fp``
    column attached. The state delta to append for the next batch is
    ``result.select("__fp", F.col(id_col).alias("keeper_id"))`` —
    matching ``fingerprint_state``'s (__fp, keeper_id) schema.

    ``state`` needs one column: ``__fp`` (fingerprints of every
    already-accepted document). Build it from an accepted corpus with
    ``fingerprint_state``.
    """
    fp = fingerprint_md5(text_col, normalize=normalize).alias("__fp")
    batch = new_docs.select(fp, "*")
    w = Window.partitionBy("__fp").orderBy(id_col)
    batch_first = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # no distinct() on the state side: LEFT ANTI results are unaffected
    # by duplicate right-side keys, and a distinct would force a full
    # shuffle of the append-only state table on every batch (defeating
    # a bucketed-by-fp state layout)
    return batch_first.join(state.select("__fp"), "__fp", "left_anti")


def incremental_dedup_minhash(
    new_docs: DataFrame,
    state_docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR-duplicate incremental ingest: batch docs accepted iff no
    exact-Jaccard-verified LSH candidate links them to a state doc or
    to an EARLIER batch doc (first-wins by id). Returns the accepted
    rows of ``new_docs``.

    Plan shape: shingle+sign both sides once, then join the BATCH
    side's band rows (bands small rows per new doc) against the band
    table of state+batch — never state×state. Verification ships
    shingle arrays for candidate ids only. At scale the state's band
    rows and shingle arrays are persisted append-only (see
    dedup/minhash.band_rows) so each ingest batch shuffles only its
    own rows; here both are derived from ``state_docs`` for a
    self-contained operator.

    Ids must be unique WITHIN each side; the same id may appear on
    both sides (a re-delivered document). Internally every row gets a
    side-tagged key, so a batch doc whose id already exists in state
    is still content-compared against the state copy — an exact
    re-delivery is rejected like any other near-duplicate rather than
    slipping through on id equality.
    """
    from shmr_spark.dedup.minhash import (
        band_rows,
        minhash_signatures_df,
        shingle_ngrams,
    )

    batch = new_docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    state = state_docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    # side-tagged key: ids may collide across sides (re-delivery), and
    # an id collision would both merge the two docs' shingles in the
    # signature groupBy and exempt the pair from the band join's
    # self-pair guard
    uid = F.concat(
        F.when(F.col("__is_new"), F.lit("n:")).otherwise(F.lit("s:")),
        F.col("__id").cast("string"),
    ).alias("__uid")
    sh_all = materialize(
        batch.withColumn("__is_new", F.lit(True))
        .unionByName(state.withColumn("__is_new", F.lit(False)))
        .select(
            uid,
            "__id",
            "__is_new",
            # xxhash64 longs, not raw n-gram strings — same 8-byte
            # verify-exchange economics as minhash_candidate_pairs,
            # same bit-identical signatures (minhash_signatures_df
            # dispatches on the element type)
            F.transform(
                shingle_ngrams("__t", shingle_size), lambda s: F.xxhash64(s)
            ).alias("__sh"),
        )
    )
    sigs = minhash_signatures_df(sh_all, "__uid", "__sh", num_hashes)
    meta = sh_all.select("__uid", "__id", "__is_new")
    all_bands = band_rows(sigs, "__uid", "sig", bands).withColumnRenamed(
        "__id", "__uid"
    )
    batch_bands = all_bands.join(
        meta.filter("__is_new").select("__uid"), "__uid"
    )

    cands = (
        batch_bands.alias("n")
        .join(
            all_bands.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bh") == F.col("o.bh"))
            & (F.col("n.__uid") != F.col("o.__uid")),
        )
        .select(
            F.col("n.__uid").alias("new_uid"), F.col("o.__uid").alias("other_uid")
        )
        .distinct()
    )
    # a candidate blocks the batch doc iff the other side is state, or
    # an earlier batch doc
    new_meta = meta.select(
        F.col("__uid").alias("new_uid"), F.col("__id").alias("new_id")
    )
    other_meta = meta.select(
        F.col("__uid").alias("other_uid"),
        F.col("__id").alias("other_id"),
        F.col("__is_new").alias("other_is_new"),
    )
    blocking = cands.join(other_meta, "other_uid").join(new_meta, "new_uid").filter(
        (~F.col("other_is_new")) | (F.col("other_id") < F.col("new_id"))
    )
    sh_n = sh_all.select(F.col("__uid").alias("new_uid"), F.col("__sh").alias("sh_n"))
    sh_o = sh_all.select(
        F.col("__uid").alias("other_uid"), F.col("__sh").alias("sh_o")
    )
    inter = F.size(F.array_intersect("sh_n", "sh_o")).cast("double")
    # |A∪B| = |A|+|B|−|A∩B|: the __sh arrays are duplicate-free
    # (array_distinct'd shingles, hashed — same ~2⁻⁶⁴ xxhash64
    # collision caveat as verify_jaccard_pairs), so deriving the
    # union size drops one of the two O(|A|+|B|) set-op passes;
    # identical jaccard in exact double arithmetic.
    union = (
        F.size("sh_n").cast("double") + F.size("sh_o").cast("double") - inter
    )
    rejected = (
        blocking.join(sh_n, "new_uid")
        .join(sh_o, "other_uid")
        .filter((inter / union) >= F.lit(threshold))
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(rejected, id_col, "left_anti")


def fingerprint_state(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """(__fp, keeper id) state table of an accepted corpus — one row
    per distinct fingerprint, keeper = min id (deterministic)."""
    fp = fingerprint_md5(text_col, normalize=normalize).alias("__fp")
    return (
        docs.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias("keeper_id"))
    )
