"""The bench suites beside the registry's headline set, and the
production shapes of the LLM-pipeline flagships, shared by bench.py,
tools/capture_plans.py and tools/audit_100x_llm.py.

Each suite is declared here once, so the rows bench.py times, the
plans capture_plans.py records and the shapes the 100× audit cites
(AUDIT_100X_LLM.json — quoted by dedup/minhash.py and
similarity/knn.py docstrings) cannot drift apart. Gate queries
deliberately do NOT use the prod shapes: the gates pin
oracle-equivalence configs (degenerate banding, full-probe
expansion), while these are the S-curve/pruned configs a production
pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def dedup_minhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs in the production 16-band S-curve shape
    (the dedup_minhash GATE uses single-row banding for oracle
    equivalence, which admits far more candidates)."""
    from shmr_spark.catalog import load_table
    from shmr_spark.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, threshold=0.7)


def knn_join_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join in the production radius-1 probe-expansion shape (the
    knn_join_lsh GATE uses radius=n_planes full-probe expansion, which
    deliberately admits the whole corpus per probe). Probes are 1% of
    the corpus, so they SCALE with it — the fixed-probe framing lives
    in tools/audit_100x_llm.py."""
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.similarity.knn import knn_join_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return knn_join_lsh(probes, emb, k=5, n_planes=8, radius=1)


def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data flow (clean → exact+minhash dedup →
    quality filter → token-budget select → pack → sorted shards) as
    one lazy plan — invariants in tests/test_training_pipeline.py."""
    from shmr_spark.operators.training_pipeline import training_pipeline

    return training_pipeline(spark, sf_dir)


# Registry gates bench.py times at both scales beside the headline set:
# the LLM-pipeline, streaming and heavy TPC-H representatives, and the
# corpus-statistics composites. True marks the gates whose shuffle
# bytes bench.py also records at both scales, with every prod shape.
SCALE_EXTRA_GATES = {
    "similarity_indexed_topk": False,
    "heavy_hitters_tokens": True,
    "sessionize": False,
    "streaming_tumbling": False,
    "duplicate_spans": True,
    "rollup_incremental": False,
    "q21_single_fault_suppliers": True,
    "q9_profit_by_nation": True,
    "perplexity_buckets": False,
    "nb_lang_classifier": False,
    "nb_target_select": False,
}

# The batch prod shapes, by bench row name.
PROD_SHAPES = {
    "dedup_minhash_prod": dedup_minhash_prod,
    "knn_join_lsh_prod": knn_join_lsh_prod,
    "pipeline_e2e": pipeline_e2e,
}
