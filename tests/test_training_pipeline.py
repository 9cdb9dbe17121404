"""Cross-stage invariant chain for the composed training pipeline
(operators/training_pipeline.py) — the same composition bench.py
times at sf0.1/sf1 ("pipeline_e2e" scale row), asserted here at test
scale so the timed flow is a verified flow.
"""

from __future__ import annotations

import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.dedup import minhash_near_duplicates
from shmr_spark.operators import training_pipeline as tp
from shmr_spark.operators.training_pipeline import (
    clear_pipeline_caches,
    training_pipeline,
)


# Two identical calls in a fresh engine session; prints the number of
# classes each call compiled.
_REPEAT_COMPILES = """
import sys
from shmr_spark import get_spark
from shmr_spark.operators.training_pipeline import training_pipeline
spark = get_spark(app_name="codegen_reuse", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "2g"})
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
compiles = compiles.METRIC_COMPILATION_TIME()
for _ in range(2):
    before = compiles.getCount()
    training_pipeline(spark, sys.argv[1], n_shards=4).collect()
    print(compiles.getCount() - before)
spark.stop()
"""


def test_repeat_call_reuses_generated_classes(sf_dir):
    """A warm repeat reuses the first call's generated classes. One
    call generates ~220 of them; at Spark's default codegen cache of
    100 entries every repeat recompiled them all. This also guards the
    cache conf's name, which is internal to Spark. The calls run in a
    session of their own: in the session the other tests share, earlier
    tests warm part of the first call and the repeat's count varies
    with what they ran."""
    out = subprocess.run(
        [sys.executable, "-c", _REPEAT_COMPILES, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    )
    first, second = map(int, out.stdout.split()[-2:])
    assert second < 0.1 * first, (first, second)


def test_training_pipeline_invariants(spark, sf_dir, tmp_path):
    n_raw = load_table(spark, sf_dir, "documents").count()
    shards = training_pipeline(spark, sf_dir, n_shards=4).cache()
    try:
        rows = shards.count()
        assert 0 < rows <= n_raw

        # selection respected the budget fraction: the kept set is a
        # strict subset (the cut excludes at least the tail) and ids
        # are unique after the two dedup stages
        assert shards.select("doc_id").distinct().count() == rows

        # packing conserves tokens: offsets are the exclusive prefix
        # sum of n_tokens in doc_id order, so max(start_tok+n_tokens)
        # == sum(n_tokens), and pack_id == start_tok // budget
        agg = shards.agg(
            F.sum("n_tokens").alias("tot"),
            F.max(F.col("start_tok") + F.col("n_tokens")).alias("hi"),
            F.sum(
                (F.col("pack_id") != F.floor(F.col("start_tok") / 2048))
                .cast("int")
            ).alias("bad_pack"),
        ).collect()[0]
        assert agg.tot == agg.hi
        assert agg.bad_pack == 0

        # shards: equal-population within 1, and key-contiguous
        # (every shard's start_tok range is disjoint from the next's)
        pops = [
            r.n
            for r in shards.groupBy("shard_id")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        assert len(pops) <= 4 and max(pops) - min(pops) <= 1
        bounds = (
            shards.groupBy("shard_id")
            .agg(F.min("start_tok").alias("lo"), F.max("start_tok").alias("hi"))
            .orderBy("shard_id")
            .collect()
        )
        for a, b in zip(bounds, bounds[1:]):
            assert a.hi <= b.lo

        # no near-dup pair above threshold survives among kept docs —
        # checked on the CLEANED text (the representation the pipeline
        # deduped), not the raw text: normalization can move Jaccard
        # in either direction, so a raw-text check would assert a
        # different relation than the one the pipeline guarantees
        surv_docs = (
            load_table(spark, sf_dir, "documents")
            .join(shards.select("doc_id"), "doc_id")
            .select(
                "doc_id",
                F.trim(
                    F.regexp_replace(F.lower("text"), " +", " ")
                ).alias("text"),
            )
        )
        assert minhash_near_duplicates(surv_docs, threshold=0.8).count() == 0

        # the export layout round-trips with partition pruning intact
        out = str(tmp_path / "shards")
        shards.write.mode("overwrite").partitionBy("shard_id").parquet(out)
        back = spark.read.parquet(out)
        assert back.count() == rows
        plan = (
            back.filter(F.col("shard_id") == 0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan
    finally:
        shards.unpersist()


def test_training_pipeline_dsir_selection(spark, sf_dir):
    """dsir_target switches the selection ranking to DSIR importance
    weight: the invariant chain holds (unique ids, token
    conservation, in-budget packing) and the kept set actually
    differs from the quality-ordered cut — the survivors skew toward
    the target domain relative to the quality-mode selection."""
    base = training_pipeline(spark, sf_dir, n_shards=4)
    dsir = training_pipeline(
        spark, sf_dir, n_shards=4, dsir_target=F.col("lang") == "en"
    )
    b_ids = {r.doc_id for r in base.select("doc_id").collect()}
    d = dsir.cache()
    try:
        d_ids = {r.doc_id for r in d.select("doc_id").collect()}
        assert d.select("doc_id").distinct().count() == len(d_ids)
        agg = d.agg(
            F.sum("n_tokens").alias("tot"),
            F.max(F.col("start_tok") + F.col("n_tokens")).alias("hi"),
        ).collect()[0]
        assert agg.tot == agg.hi
        assert d_ids != b_ids, "DSIR ranking selected the same set"
        # the DSIR cut holds at least as many target-language docs
        docs = load_table(spark, sf_dir, "documents")
        en = {
            r.doc_id
            for r in docs.filter(F.col("lang") == "en")
            .select("doc_id")
            .collect()
        }
        assert len(d_ids & en) >= len(b_ids & en)

        # the hashed bounded-feature estimator (production config for
        # raw web corpora) through the same composition: the chain
        # invariants hold and the budget-fraction cut keeps the same
        # token-mass bound — the feature space changes the ORDER, not
        # the contract
        hashed = training_pipeline(
            spark,
            sf_dir,
            n_shards=4,
            dsir_target=F.col("lang") == "en",
            dsir_hash_buckets=16,
            dsir_ngrams=2,
        ).cache()
        try:
            h_ids = {r.doc_id for r in hashed.select("doc_id").collect()}
            assert hashed.select("doc_id").distinct().count() == len(h_ids)
            hagg = hashed.agg(
                F.sum("n_tokens").alias("tot"),
                F.max(F.col("start_tok") + F.col("n_tokens")).alias("hi"),
            ).collect()[0]
            assert hagg.tot == hagg.hi
        finally:
            hashed.unpersist()
    finally:
        d.unpersist()
        # the modes leave corpus-sized survivor caches in the
        # module slot map — release them so the rest of the suite
        # doesn't carry the MEMORY_AND_DISK frames
        clear_pipeline_caches()


# -- cache lifetime ---------------------------------------------------------
# DataFrame.storageLevel looks the frame's plan up in Spark's
# CacheManager, so it reports whether that plan is cached right now,
# whichever handle persisted it.


def _slot_frames(spark, sf_dir):
    app = spark.sparkContext.applicationId
    with tp._cache_lock:
        return [
            df
            for key, frames in tp._cache_slots.items()
            if key[:2] == (app, sf_dir)
            for df in frames
        ]


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_repeat_call_releases_previous_frames(spark, sf_dir):
    """An identical repeat releases the first call's frames before it
    persists its own: the first call's scored projection (a fresh plan
    per call, through MinHash's checkpoints) is no longer cached, the
    repeat's frames are, and both calls return the same rows."""
    clear_pipeline_caches()
    try:
        first = training_pipeline(spark, sf_dir, n_shards=4)
        want = sorted(first.collect())
        first_frames = _slot_frames(spark, sf_dir)
        assert all(map(_cached, first_frames))
        _, first_scored = first_frames  # persisted in order: exact, scored

        second = training_pipeline(spark, sf_dir, n_shards=4)
        assert sorted(second.collect()) == want
        assert not _cached(first_scored)
        second_frames = _slot_frames(spark, sf_dir)
        assert len(second_frames) == 2 and all(map(_cached, second_frames))
        # the released first call recomputes, with the same rows
        assert sorted(first.collect()) == want
    finally:
        clear_pipeline_caches()


def test_quality_call_releases_dsir_ranked_frame(spark, sf_dir):
    """A quality-mode call with the same arguments as a DSIR call
    shares its slot, so it releases the DSIR ranked frame, which
    quality mode never persists."""
    clear_pipeline_caches()
    try:
        training_pipeline(
            spark, sf_dir, n_shards=4, dsir_target=F.col("lang") == "en"
        )
        (ranked,) = [
            df for df in _slot_frames(spark, sf_dir) if "dsir_score" in df.columns
        ]
        assert _cached(ranked)
        training_pipeline(spark, sf_dir, n_shards=4)
        assert not _cached(ranked)
        assert not any(
            "dsir_score" in df.columns for df in _slot_frames(spark, sf_dir)
        )
    finally:
        clear_pipeline_caches()


def test_clear_pipeline_caches_releases_every_slot_frame(spark, sf_dir):
    clear_pipeline_caches()
    training_pipeline(
        spark, sf_dir, n_shards=4, dsir_target=F.col("lang") == "en"
    )
    frames = _slot_frames(spark, sf_dir)
    assert len(frames) == 3 and all(map(_cached, frames))
    assert clear_pipeline_caches() == 1
    assert not any(map(_cached, frames))
    assert _slot_frames(spark, sf_dir) == []


def test_concurrent_identical_calls(spark, sf_dir, monkeypatch):
    """Two identical calls on two threads may release each other's
    cache, but both return the sequential rows, and every frame either
    one persisted stays reachable for clear_pipeline_caches()."""
    clear_pipeline_caches()
    want = sorted(training_pipeline(spark, sf_dir, n_shards=4).collect())
    clear_pipeline_caches()

    persisted = []
    frame_cls = type(spark.range(1))
    real_persist = frame_cls.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", recording_persist)
    try:
        with ThreadPoolExecutor(2) as pool:
            futures = [
                pool.submit(
                    lambda: sorted(
                        training_pipeline(spark, sf_dir, n_shards=4).collect()
                    )
                )
                for _ in range(2)
            ]
            got = [f.result() for f in futures]
        assert got == [want, want]
        assert len(persisted) == 4
    finally:
        clear_pipeline_caches()
    assert not any(map(_cached, persisted))
