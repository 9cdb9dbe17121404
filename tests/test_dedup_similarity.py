"""Dedup + similarity operator tests: cross-validate the approximate
tiers (MinHash/SimHash/LSH/IVF) against exact brute-force ground truth
on the synthetic corpus, plus planted-duplicate recall checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.dedup import (
    dedup_exact_keep_first,
    embedding_near_duplicates,
    minhash_near_duplicates,
    simhash_near_duplicates,
    shingle_ngrams,
    minhash_signature,
)
from shmr_spark.functions.vectors import cosine_similarity
from shmr_spark.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)


def _docs_with_planted_dups(spark, sf_dir):
    """Corpus + near-copies of doc 0/1 (one token appended) and an
    exact copy of doc 2, with ids offset by 100000."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = (
        docs.filter(F.col("doc_id") < 2)
        .select((F.col("doc_id") + 100000).alias("doc_id"),
                F.concat("text", F.lit(" zzz")).alias("text"))
    )
    exact = docs.filter(F.col("doc_id") == 2).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact)


def test_exact_dedup_keep_first(spark, sf_dir):
    df = _docs_with_planted_dups(spark, sf_dir)
    out = dedup_exact_keep_first(df, "text", "doc_id")
    assert out.count() == df.count() - 1  # only the exact copy removed
    assert out.filter(F.col("doc_id") == 100002).count() == 0  # min id kept
    assert out.filter(F.col("doc_id") == 2).count() == 1


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    df = _docs_with_planted_dups(spark, sf_dir)
    pairs = minhash_near_duplicates(df, threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 100000) in found
    assert (1, 100001) in found
    assert (2, 100002) in found
    for r in pairs:
        assert r.jaccard >= 0.5


def test_verify_size_prefilter_is_exact(spark, sf_dir):
    """The size-ratio prune inside verify_jaccard_pairs is an
    inequality on the same hashed sets (j ≤ min/max), so the output
    must be ROW-IDENTICAL to the unfiltered Jaccard over every
    candidate — checked in the wide-banding shape (bands=num_hashes),
    where candidates far outnumber true pairs and the prune actually
    fires (and is the measured −39% wall win, r12 optimization)."""
    from shmr_spark.dedup.minhash import (
        minhash_candidate_pairs,
        verify_jaccard_pairs,
    )

    df = _docs_with_planted_dups(spark, sf_dir)
    sh, cands = minhash_candidate_pairs(df, bands=64)
    n_cands = cands.count()

    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    unfiltered = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )

    got = sorted(map(tuple, verify_jaccard_pairs(sh, cands, 0.5).collect()))
    want = sorted(map(tuple, unfiltered.collect()))
    assert got == want
    # the prune must actually have had something to prune in this shape
    sa = sh.select(F.col("__id").alias("id_a"), F.size("__sh").alias("sza"))
    sb = sh.select(F.col("__id").alias("id_b"), F.size("__sh").alias("szb"))
    survivors = (
        cands.join(sa, "id_a").join(sb, "id_b")
        .filter(
            F.least("sza", "szb").cast("double")
            >= 0.5 * F.greatest("sza", "szb").cast("double")
        )
        .count()
    )
    assert survivors < n_cands


def test_minhash_signature_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    sig = docs.select(
        minhash_signature(shingle_ngrams("text", 3), num_hashes=32).alias("sig")
    ).collect()
    for r in sig:
        assert len(r.sig) == 32


def test_signatures_identical_for_string_and_prehashed_shingles(spark, sf_dir):
    """minhash_signatures_df dispatches on the shingle element type
    (raw strings vs xxhash64 longs — the verify-exchange optimization,
    BUILD_LOG §44). The two paths must produce BIT-IDENTICAL
    signatures, or the hashed fast path would silently change every
    candidate set downstream."""
    from pyspark.sql import functions as F

    from shmr_spark.dedup.minhash import minhash_signatures_df

    docs = load_table(spark, sf_dir, "documents").limit(50)
    sh_str = docs.select(
        F.col("doc_id").alias("__id"),
        shingle_ngrams("text", 3).alias("__sh"),
    )
    sh_hash = sh_str.select(
        "__id", F.transform("__sh", lambda s: F.xxhash64(s)).alias("__sh")
    )
    a = {r["__id"]: r.sig for r in minhash_signatures_df(sh_str, "__id").collect()}
    b = {r["__id"]: r.sig for r in minhash_signatures_df(sh_hash, "__id").collect()}
    assert a == b and len(a) == 50


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    df = _docs_with_planted_dups(spark, sf_dir)
    pairs = simhash_near_duplicates(df, max_hamming=3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (2, 100002) in found  # exact copy: hamming 0
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(2, 100002)] == 0


def test_embedding_neardup_planted(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    df = emb.unionByName(dup)
    pairs = embedding_near_duplicates(df, threshold=0.999).collect()
    assert any(r.id_a == 0 and r.id_b == 100000 for r in pairs)


def test_lsh_bucket_quotes_awkward_column_names(spark, sf_dir):
    """The expression-string path of lsh_bucket quotes the column name
    with sql_ident, so names holding a backtick or a dot give the same
    buckets as the Column path."""
    from shmr_spark.dedup.embedding import hyperplanes, lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first().embedding)
    planes = hyperplanes(dim, n_planes=8)
    for name in ("emb`x", "a.b"):
        df = emb.select("vec_id", F.col("embedding").alias(name))
        col = F.col("`" + name.replace("`", "``") + "`")
        rows = (
            df.select(
                lsh_bucket(name, planes).alias("s"),
                lsh_bucket(col, planes).alias("c"),
            )
            .collect()
        )
        assert rows and all(r.s == r.c for r in rows), name
        assert len({r.s for r in rows}) > 1, name


def test_embedding_neardup_multiprobe_recall(spark, sf_dir):
    """Multi-probe expansion is sound and monotone: r=1 candidates are
    a superset of exact-bucket pairs, a subset of the all-pairs truth
    (n_planes=0), and recall is non-decreasing in r."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    kw = dict(threshold=0.4, n_planes=8)

    def pairs(**over):
        return {
            (r.id_a, r.id_b)
            for r in embedding_near_duplicates(emb, **{**kw, **over}).collect()
        }

    exact_bucket = pairs()
    probe1 = pairs(multiprobe_hamming=1)
    truth = pairs(n_planes=0)  # single bucket = all pairs = ground truth
    assert exact_bucket <= probe1 <= truth
    # on this corpus r=1 must actually recover something blocking lost
    assert len(probe1) > len(exact_bucket)


def test_lsh_topk_subset_of_bucket_and_sane(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id: r.sim for r in cosine_topk_bruteforce(emb, 0, k=10).collect()}
    approx = cosine_topk_lsh(emb, 0, k=10).collect()
    assert len(approx) <= 10
    # every approx sim must equal the exact sim for that id
    for r in approx:
        full = cosine_topk_bruteforce(emb, 0, k=10_000).collect()
        full_map = {x.vec_id: x.sim for x in full}
        assert abs(r.sim - full_map[r.vec_id]) < 1e-9
        break  # one spot check is enough; full_map is expensive


def test_ivf_topk_recall(spark, sf_dir):
    """IVF with n_probe=n_cells degenerates to exact search — recall
    must be 1.0 there; default n_probe recall is reported not asserted
    (approximate by design)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in cosine_topk_bruteforce(emb, 0, k=5).collect()]
    full_scan = [
        r.vec_id for r in cosine_topk_ivf(emb, 0, k=5, n_cells=8, n_probe=8).collect()
    ]
    assert full_scan == exact


def test_ivf_kmeans_recall_planted_clusters(spark):
    """Recall@10 >= 0.8 on a planted-structure corpus: 8 well-separated
    spherical clusters, probe in cluster 0, true top-10 all in-cluster.
    n_probe=2 of n_cells=8 scans ~25% of the corpus, so recall is
    earned by the Lloyd-refined cells, not by scanning everything."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    vid = 0
    for _c in range(8):
        center = rng.randn(32)
        center /= np.linalg.norm(center)
        for _ in range(100):
            v = center + 0.15 * rng.randn(32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r.vec_id for r in cosine_topk_bruteforce(df, 0, k=10).collect()}
    got = {
        r.vec_id
        for r in cosine_topk_ivf(
            df, 0, k=10, n_cells=8, n_probe=2, kmeans_iters=2
        ).collect()
    }
    recall = len(exact & got) / 10
    assert recall >= 0.8, f"recall@10 = {recall}"


def test_lsh_multiprobe_recall_monotone(spark, sf_dir):
    """Widening the multi-probe Hamming radius can only add candidates:
    recall vs exact top-k must be non-decreasing in the radius."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in cosine_topk_bruteforce(emb, 0, k=10).collect()}
    recalls = []
    for h in (0, 1, 2):
        got = {
            r.vec_id
            for r in cosine_topk_lsh(emb, 0, k=10, multiprobe_hamming=h).collect()
        }
        recalls.append(len(exact & got))
    assert recalls == sorted(recalls)
    assert recalls[-1] >= recalls[0]


def test_knn_join_exact_matches_single_probe(spark, sf_dir):
    """Batch kNN for one probe ≡ the single-probe brute-force search."""
    from shmr_spark.similarity.knn import knn_join_exact

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    batch = [
        (r.neighbor_id, r.sim)
        for r in knn_join_exact(probe, emb, k=10).orderBy("rn").collect()
    ]
    single = [(r.vec_id, r.sim) for r in cosine_topk_bruteforce(emb, 0, k=10).collect()]
    assert batch == single


def test_knn_join_lsh_subset_of_exact_candidates(spark, sf_dir):
    """Every LSH result must carry the true cosine (verified against
    the exact join) and per-probe result sets are <= k."""
    from shmr_spark.similarity.knn import knn_join_exact, knn_join_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 250 == 0)
    exact_sims = {
        (r.probe_id, r.neighbor_id): r.sim
        for r in knn_join_exact(probes, emb, k=10_000).collect()
    }
    lsh = knn_join_lsh(probes, emb, k=5, radius=1).collect()
    per_probe: dict[int, int] = {}
    for r in lsh:
        per_probe[r.probe_id] = per_probe.get(r.probe_id, 0) + 1
        assert exact_sims[(r.probe_id, r.neighbor_id)] == r.sim
    assert all(n <= 5 for n in per_probe.values())


def test_ivf_kmeans_full_probe_exact(spark, sf_dir):
    """k-means-refined IVF with n_probe=n_cells still partitions the
    corpus (cells are disjoint + exhaustive), so full probe ≡ exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in cosine_topk_bruteforce(emb, 0, k=5).collect()]
    got = [
        r.vec_id
        for r in cosine_topk_ivf(
            emb, 0, k=5, n_cells=8, n_probe=8, kmeans_iters=2
        ).collect()
    ]
    assert got == exact


def test_kmeans_centroids_deterministic_and_partitioning(spark, sf_dir):
    """Lloyd refinement is deterministic (fixed seeds, exact agg
    shapes) and the resulting assignment covers every vector exactly
    once."""
    from shmr_spark.similarity.search import ivf_assign, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    c1 = {r["__cell"]: r["__cvec"] for r in kmeans_centroids(emb, 8, iters=2).collect()}
    c2 = {r["__cell"]: r["__cvec"] for r in kmeans_centroids(emb, 8, iters=2).collect()}
    assert c1 == c2
    assert len(c1) == 8
    assigned, _ = ivf_assign(emb, 8, kmeans_iters=2)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_kmeans_tightens_cells(spark, sf_dir):
    """Refined centroids fit the corpus at least as well as the raw
    seeds: mean cosine of each vector to its assigned centroid must
    not decrease (Lloyd monotonicity, up to assignment ties)."""
    from pyspark.sql import functions as F

    from shmr_spark.functions.vectors import cosine_similarity
    from shmr_spark.similarity.search import _assign_cells, _seed_centroids, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")

    def mean_sim(centroids):
        sim = cosine_similarity(F.col("embedding"), F.col("__cvec"))
        a = _assign_cells(emb, centroids, "vec_id", "embedding")
        joined = a.join(centroids, "__cell").select(sim.alias("s"))
        return joined.agg(F.avg("s")).first()[0]

    seeded = mean_sim(_seed_centroids(emb, 8, "vec_id", "embedding"))
    refined = mean_sim(kmeans_centroids(emb, 8, iters=3))
    assert refined >= seeded - 1e-9


def test_quantize_int8_roundtrip_error_bound(spark, sf_dir):
    """Dequantized vectors are within half a quantization step
    ((hi-lo)/255/2) of the originals elementwise, and cosine vs the
    original stays > 0.99 — codes preserve geometry well enough for
    candidate generation."""
    from pyspark.sql import functions as F

    from shmr_spark.functions.vectors import (
        cosine_similarity,
        dequantize_int8,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    q = emb.select(
        "vec_id",
        F.col("embedding"),
        lo.alias("lo"),
        hi.alias("hi"),
        quantize_int8("embedding").alias("codes"),
    )
    r = q.select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                dequantize_int8("codes", F.col("lo"), F.col("hi")),
                F.col("embedding").cast("array<double>"),
                lambda d, o: F.abs(d - o),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
        ((F.col("hi") - F.col("lo")) / 255.0 / 2.0 + 1e-9).alias("half_step"),
        cosine_similarity(
            dequantize_int8("codes", F.col("lo"), F.col("hi")), "embedding"
        ).alias("cos"),
    )
    bad = r.filter(
        (F.col("max_err") > F.col("half_step")) | (F.col("cos") < 0.99)
    ).count()
    assert bad == 0
    codes = q.select(F.explode("codes").alias("c")).agg(
        F.min("c"), F.max("c")
    ).first()
    assert codes[0] >= 0 and codes[1] <= 255


def test_quantized_rerank_matches_exact(spark, sf_dir):
    """int8-coarse + exact-rerank returns the exact top-10 on this
    corpus (rerank=50 ≫ k absorbs quantization error)."""
    from shmr_spark.similarity import cosine_topk_quantized_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in cosine_topk_bruteforce(emb, 0, k=10).collect()]
    got = [
        r.vec_id
        for r in cosine_topk_quantized_rerank(emb, 0, k=10, rerank=50).collect()
    ]
    assert got == exact


def test_ivf_index_storage_prune_and_results(spark, sf_dir, tmp_path):
    """The persistent IVF index must (a) return the same results as
    the in-memory IVF tier given the same cells, (b) PRUNE at the
    storage layer: a probe's scan reads only its n_probe cell
    directories, not the corpus (asserted on inputFiles), and
    (c) degenerate to exact search at full probe."""
    from shmr_spark.similarity import (
        build_ivf_index,
        cosine_topk_bruteforce,
        search_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe_vec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    idx = str(tmp_path / "ivf")
    n_cells = 8
    build_ivf_index(emb, idx, n_cells=n_cells, kmeans_iters=2)

    # (b) storage prune: the executed scan carries the probed cells as
    # PARTITION filters (directory-level pruning, not a data filter)
    pruned = search_ivf_index(spark, idx, probe_vec, k=5, n_probe=2)
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    part_filters = plan.split("PartitionFilters")[1][:200]
    assert "__cell" in part_filters and "IN" in part_filters.upper(), part_filters

    # (c) full probe ≡ exact (cells partition the corpus; probe id 0
    # itself lands in some cell, so drop it like bruteforce does)
    exact = [
        (r.vec_id, r.sim) for r in cosine_topk_bruteforce(emb, 0, k=5).collect()
    ]
    full = [
        (r.vec_id, r.sim)
        for r in search_ivf_index(spark, idx, probe_vec, k=6, n_probe=n_cells).collect()
        if r.vec_id != 0
    ][:5]
    assert full == exact


def test_incremental_dedup_waves_equal_global(spark, sf_dir):
    """Ingesting the corpus in doc_id-ordered waves through
    incremental_dedup_exact (appending each wave's state delta)
    accepts exactly the documents a one-shot global keep-first dedup
    keeps — the invariant that makes the incremental path a faithful
    replacement for periodic full re-dedup."""
    from shmr_spark.dedup.exact import dedup_exact_keep_first
    from shmr_spark.dedup.incremental import incremental_dedup_exact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    cuts = [0, hi // 3, 2 * hi // 3, hi + 1]

    state = None
    accepted_ids = set()
    for lo, up in zip(cuts, cuts[1:]):
        wave = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
        if state is None:
            surv = incremental_dedup_exact(
                wave, spark.createDataFrame([], "__fp string")
            )
        else:
            surv = incremental_dedup_exact(wave, state)
        delta = surv.select("__fp").distinct()
        state = delta if state is None else state.union(delta).distinct()
        accepted_ids |= {r.doc_id for r in surv.select("doc_id").collect()}

    global_ids = {
        r.doc_id for r in dedup_exact_keep_first(docs).select("doc_id").collect()
    }
    assert accepted_ids == global_ids


def test_incremental_minhash_planted(spark):
    """Production banding (16x4): a batch doc that is a near-copy of a
    state doc is rejected, a near-copy of an EARLIER batch doc is
    rejected, and novel docs pass."""
    from shmr_spark.dedup.incremental import incremental_dedup_minhash

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    novel1 = "completely different content about spark catalyst optimizer internals " * 5
    novel2 = "yet another unrelated passage describing parquet encodings in depth " * 5
    state = spark.createDataFrame(
        [(0, base), (2, novel1)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, base + "with a tiny suffix change"),   # near-dup of state 0
            (3, novel2),                                # novel → accepted
            (5, novel2 + "slightly extended tail"),     # near-dup of batch 3
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id
        for r in incremental_dedup_minhash(
            batch, state, threshold=0.5, num_hashes=64, bands=16
        ).collect()
    }
    assert got == {3}


def test_incremental_minhash_redelivered_id(spark):
    """A batch doc that re-uses an id already in state (re-delivery)
    must still be content-compared against the state copy: an exact
    re-delivery is rejected, and a same-id row with genuinely novel
    text is accepted. Regression for the side-tagged-key fix — with a
    bare id key the two id-7 rows merged into one corrupted signature
    and the self-pair guard exempted the duplicate."""
    from shmr_spark.dedup.incremental import incremental_dedup_minhash

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    novel = "completely different content about spark catalyst optimizer internals " * 5
    state = spark.createDataFrame([(7, base)], "doc_id long, text string")

    redelivered = spark.createDataFrame([(7, base)], "doc_id long, text string")
    assert (
        incremental_dedup_minhash(
            redelivered, state, threshold=0.5, num_hashes=64, bands=16
        ).count()
        == 0
    )

    same_id_novel = spark.createDataFrame([(7, novel)], "doc_id long, text string")
    assert (
        incremental_dedup_minhash(
            same_id_novel, state, threshold=0.5, num_hashes=64, bands=16
        ).count()
        == 1
    )


def test_duplicate_spans_planted(spark):
    """Two docs share an exact 6-token passage at known offsets; a
    third is all-unique. The merged span must cover exactly the shared
    passage in both docs (0-based inclusive token indices)."""
    from shmr_spark.dedup.spans import duplicated_ngram_spans

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, "one two " + shared + " three four five six"),       # span @ 2..7
            (2, "seven eight nine ten " + shared),                   # span @ 4..9
            (3, "only unique words appear in this document here ok"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_grams)
        for r in duplicated_ngram_spans(docs, n=6).collect()
    }
    assert spans == {1: (2, 7, 1), 2: (4, 9, 1)}


def test_duplicate_spans_merges_overlaps_and_within_doc(spark):
    """A doc that repeats its own opening inside itself: overlapping
    duplicated grams fold into ONE maximal span per region, and
    within-doc repeats count toward min_count."""
    from shmr_spark.dedup.spans import duplicated_ngram_spans

    # tokens 0..3 equal tokens 5..8 -> every 3-gram in each region
    # duplicates; regions merge internally but not across the gap
    doc = "a b c d X a b c d"
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    spans = sorted(
        (r.span_start, r.span_end, r.n_grams)
        for r in duplicated_ngram_spans(docs, n=3).collect()
    )
    assert spans == [(0, 3, 2), (5, 8, 2)]


def test_duplicate_span_stats_ratio(spark):
    """Per-doc summary keeps span-free docs with dup_tokens=0 and
    reports the exact duplicated-token ratio for covered docs."""
    from shmr_spark.dedup.spans import duplicate_span_stats

    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail one two"),   # 9 tokens, 6 duplicated
            (2, shared),                     # 6 tokens, all duplicated
            (3, "totally different text entirely"),
        ],
        "doc_id long, text string",
    )
    stats = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_ratio)
        for r in duplicate_span_stats(docs, n=6).collect()
    }
    assert stats[1] == (9, 6, 6 / 9)
    assert stats[2] == (6, 6, 1.0)
    assert stats[3] == (4, 0, 0.0)


def test_duplicate_spans_short_docs_skipped(spark):
    """Docs with fewer than n tokens produce no grams and no spans —
    the sequence() guard must not emit a descending range."""
    from shmr_spark.dedup.spans import duplicated_ngram_spans

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short")],
        "doc_id long, text string",
    )
    assert duplicated_ngram_spans(docs, n=5).count() == 0


def test_semantic_dedup_exact_setting(spark, sf_dir):
    """n_clusters=1 equals the greedy-by-id all-pairs rule computed
    independently here via a pair join."""
    from shmr_spark.dedup.semantic import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    kept = {r.vec_id for r in semantic_dedup(emb, tau=0.4, n_clusters=1).collect()}

    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    sim = F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6)
    dropped = {
        r.ib
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .filter(sim >= 0.4)
        .select("ib")
        .distinct()
        .collect()
    }
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert kept == all_ids - dropped


def test_semantic_dedup_clustered_recall(spark, sf_dir):
    """The k-means-clustered scale path: (a) it only MISSES drops
    (kept set is a superset of the exact kept set — clustering never
    invents a pair), and (b) at the borderline tau=0.4 (this corpus
    has no true near-dups; its max pairwise cosine is ~0.5, so the
    test threshold sits right at the noise floor where co-clustering
    is structurally weakest) a 2-cell split still recovers most of
    the exact dropped set. True near-dup recall — the production
    case — is pinned separately by the planted-copy test below."""
    from shmr_spark.dedup.semantic import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    kept_exact = {
        r.vec_id for r in semantic_dedup(emb, tau=0.4, n_clusters=1).collect()
    }
    dropped_exact = all_ids - kept_exact
    assert dropped_exact
    for k, bound in ((2, 0.6), (4, 0.35)):
        kept_clustered = {
            r.vec_id
            for r in semantic_dedup(
                emb, tau=0.4, n_clusters=k, kmeans_iters=2
            ).collect()
        }
        assert kept_clustered >= kept_exact
        dropped_clustered = all_ids - kept_clustered
        recall = len(dropped_clustered & dropped_exact) / len(dropped_exact)
        assert recall >= bound, (k, recall)


def test_semantic_dedup_planted_copies(spark, sf_dir):
    """Planted exact vector copies (cosine 1.0 — the production
    near-dup regime) are ALL dropped even at k=8 clustering: an
    identical vector always lands in the same k-means cell as its
    original, so clustering costs zero recall on true duplicates."""
    from shmr_spark.dedup.semantic import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    kept = {
        r.vec_id
        for r in semantic_dedup(
            corpus, tau=0.95, n_clusters=8, kmeans_iters=2
        ).collect()
    }
    planted = {100000 + i for i in range(5)}
    assert not (kept & planted)
    # the originals survive: this corpus's max natural pairwise
    # cosine (~0.5) is far below tau=0.95
    assert {i for i in range(5)} <= kept


# ---------------------------------------------------------------------------
# Product quantization (similarity/pq.py)
# ---------------------------------------------------------------------------


def test_pq_codes_structure_and_determinism(spark, sf_dir):
    from shmr_spark.catalog import load_table
    from shmr_spark.similarity.pq import pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=4, k=8, iters=1)
    assert len(books) == 4 and all(len(b) <= 8 for b in books)
    codes1 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    codes2 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    # encoding determinism for FIXED books (training's avg-based
    # centroid updates are float sums — deterministic for a fixed
    # partitioning, not pinned bit-exact across partition layouts)
    assert codes1 == codes2
    for cs in codes1.values():
        assert len(cs) == 4
        for j, c in enumerate(cs):
            assert 0 <= c < len(books[j])


def test_pq_compressed_recall_floor(spark, sf_dir):
    """m=8, k=16 (8-byte codes, 32x compression) must keep a recall
    floor against exact top-10 even on this structureless synthetic
    corpus — measured 0.4 at sf0.01 and 0.3-0.5 across probes; 0.1 is
    the regression alarm, not the target."""
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.functions.vectors import cosine_similarity
    from shmr_spark.similarity.pq import pq_encode, pq_topk, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    p = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    exact = [
        r.vec_id
        for r in emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(p))
        .select(
            "vec_id", F.round(cosine_similarity("embedding", "p"), 6).alias("s")
        )
        .orderBy(F.desc("s"), "vec_id")
        .limit(10)
        .collect()
    ]
    books = pq_train(emb, m=8, k=16, iters=2)
    codes = pq_encode(emb.filter(F.col("vec_id") != 0), books)
    approx = [r.vec_id for r in pq_topk(codes, books, probe, topk=10).collect()]
    assert len(set(approx) & set(exact)) >= 1


def test_ivfpq_pruned_returns_k_and_overlaps_exact(spark, sf_dir):
    """The pruned IVFPQ config (half the cells probed, compressed
    codes) must return k rows AND overlap the exact top-10 — a wiring
    + recall floor, not a recall target (structureless corpus)."""
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.functions.vectors import cosine_similarity
    from shmr_spark.similarity.pq import cosine_topk_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    out = cosine_topk_ivfpq(
        emb, probe, k=10, n_cells=8, n_probe=4, m=8, pq_k=16, exclude_id=0
    )
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.vec_id != 0 for r in rows)
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    p = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    exact = [
        r.vec_id
        for r in emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(p))
        .select(
            "vec_id", F.round(cosine_similarity("embedding", "p"), 6).alias("s")
        )
        .orderBy(F.desc("s"), "vec_id")
        .limit(10)
        .collect()
    ]
    overlap = len({r.vec_id for r in rows} & set(exact))
    assert overlap >= 1, "pruned IVFPQ shares nothing with exact top-10"


def test_pq_rejects_mismatched_vector_dims(spark):
    """A vector whose length != m*d_sub must raise, not silently
    encode to code 0 via null-padded distances."""
    import pytest

    from shmr_spark.similarity.pq import pq_encode

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0])],  # row 2 short
        "vec_id long, embedding array<double>",
    )
    books = [[[0.0, 0.0]], [[0.0, 0.0]]]  # m=2, d_sub=2
    with pytest.raises(Exception, match="m\\*d_sub|assert"):
        pq_encode(df, books).collect()


def test_pq_topk_df_matches_constant_array_path(spark, sf_dir):
    """The in-plan LUT scorer (pq_topk_df, round 6 — built for the
    no-driver-collect gate configs) must produce identical (id, sim)
    rows to the constant-array pq_topk for the SAME trained codebook:
    both fold the per-subspace partials in fixed j order with the
    same grouping, so this is exact equality, not tolerance."""
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.similarity.pq import (
        _codebook_df,
        pq_encode,
        pq_encode_df,
        pq_topk,
        pq_topk_df,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    m = 4
    books = pq_train(emb, m=m, k=8, iters=1)
    d_sub = len(probe) // m
    corpus = emb.filter(F.col("vec_id") != 0)
    cb_df = _codebook_df(spark, books)

    codes_const = pq_encode(corpus, books)
    codes_df = pq_encode_df(corpus, cb_df, m, d_sub, broadcast_codebook=True)
    got_const = [tuple(r) for r in pq_topk(codes_const, books, probe, topk=10).collect()]
    got_df = [tuple(r) for r in pq_topk_df(codes_df, cb_df, probe, m, topk=10).collect()]
    assert got_df == got_const
