"""The composed training-data flow, end to end, as ONE query:

    clean/normalize → quality + token annotate → language/quality +
    repetition filter → exact dedup → MinHash near-dup cluster dedup →
    token-budget select → sequence pack → sorted-shard assignment

Each stage is the production operator the registry gates individually
(dedup/exact.py, dedup/minhash.py, dedup/clusters.py,
operators/selection.py, operators/packing.py, operators/ranking.py);
this module composes them into the one flow a real corpus build runs,
so the bench can time it end-to-end at scale and the tests can assert
the cross-stage invariant chain (counts only shrink, survivors are
near-dup-free, packing conserves tokens, shards are balanced). The
composition introduces no new shuffles. Its only driver-side actions
are small bounded aggregates over the persisted survivors (token
total, max doc id and per-bucket token totals), taken at the point a
production build writes to storage: they size the pack/shard buckets
and turn the budget cut into literals, so later actions do not re-run
those sub-plans. The selection is pinned as well
(``session.materialize``), so the first action over the result also
runs the selection's shuffle stages, once, when the pin is taken.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.dedup import minhash_near_duplicates
from shmr_spark.dedup.clusters import dedup_keep_cluster_representative
from shmr_spark.dedup.exact import dedup_exact_keep_first
from shmr_spark.functions.text import quality_score, token_count, tokens
from shmr_spark.operators.packing import pack_sequences
from shmr_spark.operators.ranking import range_shards
from shmr_spark.operators.selection import (
    auto_scaled_bucket,
    score_bucket,
    select_by_token_fraction_from_totals,
)
from shmr_spark.session import materialize

# Frames persisted by the last call for each (application, corpus,
# params) slot. A call releases its slot's previous frames before its
# first persist(), so it never shares a live cache entry with frames
# it will later unpersist, and a repeat always runs cold. Each frame
# joins the slot as soon as it is persisted, so clear_pipeline_caches()
# reaches every one of them, including those of a concurrent identical
# call. Two such calls can release each other's cache: a recompute,
# never wrong rows.
_cache_slots: dict[tuple, tuple[DataFrame, ...]] = {}
_cache_lock = threading.Lock()


def _release(frames) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # the frame's session already stopped


def _persist(slot: tuple, df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _cache_lock:
        _cache_slots[slot] = _cache_slots.get(slot, ()) + (df,)
    return df


def clear_pipeline_caches() -> int:
    """Unpersist and drop every cached survivor frame. A slot is only
    released when the same call repeats, so a caller that sweeps
    different configs or corpora in one session holds one corpus-sized
    MEMORY_AND_DISK cache per slot until it calls this. Returns the
    number of slots released."""
    with _cache_lock:
        dropped = list(_cache_slots.values())
        _cache_slots.clear()
    for frames in dropped:
        _release(frames)
    return len(dropped)


def training_pipeline(
    spark: SparkSession,
    sf_dir: str,
    budget_fraction: float = 0.5,
    neardup_threshold: float = 0.8,
    pack_budget: int = 2048,
    n_shards: int = 16,
    dsir_target=None,
    dsir_hash_buckets: int | None = None,
    dsir_ngrams: int = 1,
) -> DataFrame:
    """Run the full flow over ``sf_dir``'s documents table; returns
    the final shard table (doc_id, quality, n_tokens, start_tok,
    pack_id, shard_id).

    ``budget_fraction`` sizes the token-budget cut relative to the
    surviving corpus's token mass, so the pipeline is scale-free: no
    absolute constant goes stale when the corpus grows 10×. The cut
    needs the total (one extra pass over the survivors), so the
    deduped projection is PERSISTED first — the production shape: the
    output of an expensive dedup stage is always materialized (there,
    written to storage; here, MEMORY_AND_DISK) before fan-out to
    selection + stats, never recomputed per consumer. The persisted
    frames live until the next call with the same arguments or
    ``clear_pipeline_caches()``.

    ``dsir_target`` (optional boolean Column over the documents
    columns, e.g. ``F.col("lang") == "en"``) switches the selection
    stage's ranking from the per-row quality heuristic to the DSIR
    importance log-weight toward that target domain
    (functions/dsir.py), length-normalized to the per-token mean —
    same greedy token-fraction cut, different order. Opt-in because
    it adds the DSIR scoring pass (one
    (doc, token) partial-aggregated explode + a broadcast-sized
    count relation) over the persisted exact-dedup frame.

    ``dsir_hash_buckets`` / ``dsir_ngrams`` select the hashed
    bounded-feature estimator (the production configuration for raw
    web-scale corpora, where the count relation must be ≤B rows by
    construction rather than Heaps-bounded) and the paper's
    unigram+bigram feature set; both pass straight through to
    ``dsir_logweights``. The per-token mean stays the ranking score
    in every mode — n_tokens counts tokens regardless of feature
    space.
    """
    slot = (
        # applicationId, not id(spark): CPython can reuse the id() of
        # a stopped session. Persistence is context-level, so sessions
        # on one context rightly share a slot.
        spark.sparkContext.applicationId,
        sf_dir,
        budget_fraction,
        neardup_threshold,
        pack_budget,
        n_shards,
        # not dsir_target: both modes persist the same exact-dedup
        # plan, which is one CacheManager entry, so one slot holds it
    )
    with _cache_lock:
        prev = _cache_slots.pop(slot, ())
    _release(prev)

    docs = load_table(spark, sf_dir, "documents")

    cleaned = (
        docs.select(
            "doc_id",
            "lang",
            F.trim(F.regexp_replace(F.lower("text"), " +", " ")).alias("text"),
        )
        .withColumn("quality", quality_score("text"))
        .withColumn("n_tokens", token_count("text").cast("long"))
        # Gopher-style repetition gate, in its IN-SCAN form: the
        # duplicate-token fraction as a native array expression — zero
        # shuffles, unlike the full per-gram explode operator
        # (functions/lm.py repetition_metrics), which is the right
        # shape only when the per-gram counts themselves are wanted.
        # Threshold 0.7 ≈ the corpus p95 (sf0.1: p50 0.536, p95
        # 0.697, max 0.731) — cuts the most-degenerate ~5% tail.
        .withColumn(
            "dup_token_frac",
            1
            - F.size(F.array_distinct(tokens("text"))).cast("double")
            / F.size(tokens("text")).cast("double"),
        )
    )

    kept = cleaned.filter(
        (F.col("quality") > 0.5)
        & (F.col("n_tokens") >= 5)
        & (F.col("dup_token_frac") <= 0.7)
    )

    # The exact-dedup output has two consumers (minhash banding and
    # the cluster-representative join), each of which would otherwise
    # recompute clean→annotate→filter→dedup from the scan.
    exact = _persist(slot, dedup_exact_keep_first(kept, "text", "doc_id"))
    pairs = minhash_near_duplicates(exact, threshold=neardup_threshold)
    surv = dedup_keep_cluster_representative(exact, pairs)
    scored = _persist(slot, surv.select("doc_id", "quality", "n_tokens"))

    # Explicit buckets for BOTH two-phase scans below: their default
    # in-plan min/max (ranking._auto_bucketed) would add one
    # action-time pass over the selection→packing segment EACH just
    # to size the cells. Both key ranges are known up front — doc_id
    # ≤ max(doc_id) over the survivors, start_tok < fraction·total —
    # so fixed-width coarsenings derive from ONE cheap aggregate over
    # the already-persisted survivors: the expensive segment executes
    # exactly once per action, and both bucket counts stay ≤ ~4096 at
    # any corpus size. (Survivor doc_ids/token totals are dense,
    # non-outlier domains, so fixed-width cells cannot collapse —
    # the skew caveat on prefix_sum's bucket contract.)
    if dsir_target is not None:
        from shmr_spark.functions.dsir import dsir_logweights

        # Score the persisted exact-dedup frame: scoring surv would
        # recompute the minhash lineage, and the join onto scored
        # restricts the weights to the near-dup survivors (DSIR
        # estimates its distributions before selection, as in the
        # paper). The cut ranks by the PER-TOKEN mean log-weight: the
        # raw sum grows with document length, which the token budget
        # already charges for, while the mean is bounded by
        # ln(corpus_tokens + V). ranked is persisted because the pack
        # and quality joins re-reference the selection.
        ranked = _persist(
            slot,
            scored.join(
                dsir_logweights(
                    exact,
                    dsir_target,
                    hash_buckets=dsir_hash_buckets,
                    ngrams=dsir_ngrams,
                ).select(
                    "doc_id",
                    (F.col("logweight") / F.col("n_tokens")).alias(
                        "dsir_score"
                    ),
                ),
                "doc_id",
            ),
        )
        # The scores cluster near 0, so the cut buckets them by the
        # observed min/max (auto_scaled_bucket, ≤1024 buckets) rather
        # than a static floor against the worst-case bound. That takes
        # two bounded driver actions over ranked:
        #   1. min/max of dsir_score + the survivor stats (ranked holds
        #      exactly the survivor doc set, so sum(n_tokens) and
        #      max(doc_id) equal the scored-frame aggregate);
        #   2. per-bucket token totals grouped by the literal affine
        #      bucket map, ≤1024 rows collected.
        # select_by_token_fraction_from_totals then builds the offsets
        # as a driver-side local relation and the cut as a literal
        # budget (the decimal arithmetic replicated digit-for-digit),
        # so downstream actions do not re-run those aggregates.
        stats = ranked.agg(
            F.min("dsir_score").alias("lo"),
            F.max("dsir_score").alias("hi"),
            F.sum("n_tokens").alias("t"),
            F.max("doc_id").alias("m"),
        ).collect()[0]
        total_tokens = stats["t"] or 0
        max_doc_id = stats["m"] or 0
        dsir_bucket = auto_scaled_bucket(
            "dsir_score", stats["lo"], stats["hi"], 1024
        )
        bucket_rows = (
            ranked.groupBy(dsir_bucket.alias("__bucket"))
            .agg(F.sum("n_tokens").alias("__btot"))
            .collect()
        )
        sel = (
            select_by_token_fraction_from_totals(
                ranked,
                [(r["__bucket"], r["__btot"]) for r in bucket_rows],
                fraction=budget_fraction,
                score_col="dsir_score",
                score_buckets=1024,
                bucket_expr=dsir_bucket,
            )
            .join(scored.select("doc_id", "quality"), "doc_id")
        )
    else:
        # One action collects the survivor stats grouped by the
        # selection's exact score-bucket expression: the per-bucket
        # token totals (≤1001 rows at any corpus size) give the token
        # total, max doc id and the cut's offsets, which
        # select_by_token_fraction_from_totals builds as a driver-side
        # local relation with a literal integer budget (the decimal
        # arithmetic replicated digit-for-digit). Later actions then
        # skip the offsets window and total-token passes.
        bucket_rows = (
            scored.groupBy(
                score_bucket("quality", 1000).alias("__bucket")
            )
            .agg(
                F.sum("n_tokens").alias("__btot"),
                F.max("doc_id").alias("__bmax"),
            )
            .collect()
        )
        total_tokens = sum(int(r["__btot"]) for r in bucket_rows)
        max_doc_id = max(
            (int(r["__bmax"]) for r in bucket_rows), default=0
        )
        sel = select_by_token_fraction_from_totals(
            scored,
            [(r["__bucket"], r["__btot"]) for r in bucket_rows],
            fraction=budget_fraction,
        )
    # Pin the selection: pack_sequences and range_shards each scan
    # their input twice, so without it Catalyst re-analyzes and re-runs
    # the selection lineage under every one of those references on
    # every action. Rows are identical.
    sel = materialize(sel)
    id_width = max(1, int(max_doc_id) // 4096 + 1)
    doc_bucket = F.floor(F.col("doc_id") / F.lit(id_width)).cast("long")

    packed = pack_sequences(
        sel.select("doc_id", "n_tokens"), budget=pack_budget,
        bucket=doc_bucket,
    ).join(sel.select("doc_id", "quality"), "doc_id")

    width = max(1, int(total_tokens * budget_fraction) // 4096 + 1)
    shard_bucket = F.floor(F.col("start_tok") / F.lit(width)).cast("long")

    return range_shards(
        packed,
        key_col="start_tok",
        id_col="doc_id",
        n_shards=n_shards,
        bucket=shard_bucket,
    )
