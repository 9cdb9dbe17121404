"""100x audit for the LLM-pipeline flagship operators.

Companion to tools/audit_100x.py (relational set): measures
shuffle-write bytes and wall on the 10x and 100x derived corpora for
the pipeline operators whose 100 TB story is the engine's core claim
— MinHash near-dup dedup in its production banding shape, the
LSH-bucketed kNN join, the storage-pruned ANN index, the Misra-Gries
heavy-hitters sketch, and the composed training pipeline.

Denominator note (same as the bench docstring): make_scaled
replicates document TEXTS verbatim n times, so TRUE near-dup pair
work grows ~n^2 per cluster — at 100x the verify stage faces ~10,000x
the base pair count. The claim under test is that the EXCHANGE stays
~linear in documents (banding), with the quadratic part remaining
partition-local compute. duplicate_spans is deliberately excluded at
100x: its postings JOIN is pairwise per duplicated gram, so the
replication artifact (not the operator) makes its exchange ~n^2 by
construction — the 10x row in BENCH_QUIET_r09.json already shows
that artifact, and a real corpus does not contain 100 verbatim
copies of every document.

Run: python tools/audit_100x_llm.py  (writes AUDIT_100X_LLM.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from shmr_spark.metrics import noop_sink, shuffle_bytes_of  # noqa: E402
from shmr_spark.prod_shapes import PROD_SHAPES  # noqa: E402
from shmr_spark.session import get_spark  # noqa: E402


def _knn_join_lsh_fixed_probes(spark, sf_dir):
    # production framing: a FIXED probe set (200 vectors from the
    # base-copy id range, constant across corpus scales) against the
    # growing corpus — bench's prod shape scales probes WITH the
    # corpus (vec_id % 100), which makes per-bucket rerank work grow
    # ~quadratically across a 10x step and muddies the corpus-scaling
    # read; this variant isolates it
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.similarity.knn import knn_join_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 2000))
    return knn_join_lsh(probes, emb, k=5, n_planes=8, radius=1)


def _index_build(spark, sf_dir):
    # the BUILD side of the persistent IVF index, isolated: a cold
    # k-means assign + partitionBy write into a throwaway dir. The
    # warm probe moves ZERO shuffle bytes by design, so the build is
    # the only exchange in the path — and it is byte-CONSTANT
    # (k-means partials: per-partition k×dim sums; the partitionBy
    # write never shuffles), measured ~233 KB at both 10x and 100x.
    # The corpus-sized data movement is the storage WRITE, which is
    # scan-shaped, not an exchange.
    import shutil
    import tempfile

    from shmr_spark.catalog import load_table
    from shmr_spark.similarity import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="shmr_audit_ivf_")
    try:
        build_ivf_index(emb, d, n_cells=8, kmeans_iters=2)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # return a trivially-collectable frame so the shared noop harness
    # has something to sink; the build already ran above
    return spark.range(1)


def main() -> None:
    spark = get_spark(app_name="shmr_audit_100x_llm")
    from tools.make_scaled_sf import make_scaled

    from shmr_spark.queries import load_all

    reg = load_all()
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    d10 = os.path.join(REPO, ".scaled", "sf1")
    d100 = os.path.join(REPO, ".scaled", "sf10_100x")
    make_scaled(spark, 10, base, d10)
    make_scaled(spark, 100, base, d100)

    specs = {
        "heavy_hitters_tokens": reg["heavy_hitters_tokens"].fn,
        "similarity_indexed_topk": reg["similarity_indexed_topk"].fn,
        "knn_join_lsh_prod": PROD_SHAPES["knn_join_lsh_prod"],
        "knn_join_lsh_fixed_probes": _knn_join_lsh_fixed_probes,
        "dedup_minhash_prod": PROD_SHAPES["dedup_minhash_prod"],
        "pipeline_e2e": PROD_SHAPES["pipeline_e2e"],
        # r11: DSIR selection — distinct-(doc,token) exchange, fixed-k
        # TakeOrdered; expected byte-linear (~10.9x measured)
        "dsir_select": reg["dsir_select"].fn,
        # r12: the IVF index BUILD in isolation (k-means assign +
        # partitionBy write, cold every time) — the corpus-growing
        # exchange the warm probe doesn't have
        "similarity_index_build": _index_build,
        # r12: NB classifier — train+score in one plan; exchange is
        # distinct-(doc,token) pairs on both splits plus the
        # broadcast-sized model; expected byte-linear
        "nb_lang_classifier": reg["nb_lang_classifier"].fn,
        # r12: CCNet terciles — grouped two-phase rank; exchange is
        # the scored docs (one row per doc) plus the bucket-totals
        # table; expected byte-linear
        "perplexity_buckets": reg["perplexity_buckets"].fn,
        # r12: corpus diagnostics — both exchanges are bounded by
        # DISTINCT (source, token) / per-gram source-set pairs, which
        # replication leaves unchanged; expected byte-CONSTANT
        # (1.05x / 1.00x pinned in test_scaling_100x.py)
        "source_unigram_kl": reg["source_unigram_kl"].fn,
        "cross_source_overlap": reg["cross_source_overlap"].fn,
    }

    # r12 (verdict task 4): rows measured at a PINNED cache state —
    # one untimed pass first (builds the on-disk index if absent and
    # runs a throwaway probe), so 10x and 100x are both WARM. The r11
    # artifact mixed a fully-warm 10x (0 bytes) with a cold-build
    # 100x (232 KB) and the ratio came out null.
    warm_first = {"similarity_indexed_topk"}

    # rows whose 100x wall is weather-hostage (BUILD_LOG §43:
    # 161/116/299 s over byte-identical plans — a 2.6x spread no
    # single number should headline): publish bytes only, which
    # reproduce to the row, and keep wall for the 10x tier where the
    # spread is pennies
    bytes_only_100x = {"dedup_minhash_prod"}

    out: dict[str, dict] = {}
    for name, fn in specs.items():
        row: dict = {}
        for label, d in (("10x", d10), ("100x", d100)):
            if name in warm_first:
                noop_sink(fn(spark, d))  # build + throwaway probe
            t0 = time.perf_counter()
            bytes_ = shuffle_bytes_of(spark, lambda: noop_sink(fn(spark, d)))
            wall = round(time.perf_counter() - t0, 3)
            if label == "100x" and name in bytes_only_100x:
                row[label] = {
                    "write_bytes": bytes_["write"],
                    "wall": None,
                    "wall_note": "weather-hostage (2.6x same-plan spread, "
                    "BUILD_LOG §43) — compare by bytes",
                }
            else:
                row[label] = {"write_bytes": bytes_["write"], "wall": wall}
        if name in warm_first:
            row["cache_state"] = (
                "warm at BOTH scales: index built + one throwaway "
                "probe before each measurement"
            )
        w10, w100 = row["10x"]["write_bytes"], row["100x"]["write_bytes"]
        if w10:
            row["byte_ratio_100x_over_10x"] = round(w100 / w10, 2)
        elif w100 == 0:
            # zero exchange at both scales IS the ratio: the plan
            # moves no shuffle bytes regardless of corpus size (the
            # storage-pruned warm probe) — byte-constant at zero
            row["byte_ratio_100x_over_10x"] = 1.0
            row["byte_ratio_note"] = "0 bytes at both scales (constant)"
        else:
            row["byte_ratio_100x_over_10x"] = None
        out[name] = row
        print(name, json.dumps(row), flush=True)

    with open(os.path.join(REPO, "AUDIT_100X_LLM.json"), "w") as f:
        json.dump({"queries": out}, f, indent=1, sort_keys=True)
    print(json.dumps({"done": True}))


if __name__ == "__main__":
    main()
