"""Approximate-nearest-neighbor search over array<float> embedding
columns.

Three tiers, all native Column math (F.zip_with/F.aggregate dot
products — JVM-side, no UDF):

- cosine_topk_bruteforce — exact: probe broadcast-cross-joined against
  the corpus, TakeOrdered top-k. O(N·d) work but embarrassingly
  parallel; the right baseline and the verifier for the approximate
  tiers.
- cosine_topk_lsh — sign-LSH blocking: only the probe's bucket is
  scanned. The bucket predicate prunes via the bucket equi-filter.
- cosine_topk_ivf — IVF-style: corpus pre-assigned to the nearest of
  K centroid vectors; the probe scans its n_probe nearest centroids'
  cells. Centroids here are seeded from the corpus (deterministic
  sample) — a k-means refinement is a drop-in upgrade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shmr_spark.dedup.embedding import hyperplanes, lsh_bucket
from shmr_spark.functions.vectors import cosine_similarity, sql_double_array


def _probe_df(df: DataFrame, id_col: str, vec_col: str, probe_id):
    return df.filter(F.col(id_col) == probe_id).select(F.col(vec_col).alias("__probe"))


def cosine_topk_bruteforce(
    df: DataFrame,
    probe_id,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k vs the probe vector (excluded from results)."""
    probe = _probe_df(df, id_col, vec_col, probe_id)
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__probe")), 6)
    return (
        df.filter(F.col(id_col) != probe_id)
        .crossJoin(F.broadcast(probe))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_lsh(
    df: DataFrame,
    probe_id,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only vectors whose sign-LSH bucket is
    within `multiprobe_hamming` bits of the probe's bucket.

    Multi-probe rationale: a true neighbor differs from the probe on a
    few hyperplane signs with probability ∝ the angle — probing the
    Hamming-1 neighborhood (n_planes+1 buckets, still only
    (p+1)/2^p of the corpus) recovers most of the recall that exact
    bucket match loses. The neighborhood test is one
    ``bit_count(a^b) <= h`` predicate, no bucket enumeration."""
    planes = hyperplanes(dim, n_planes, seed)
    bucketed = df.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(vec_col, planes).alias("__bucket")
    )
    probe = (
        bucketed.filter(F.col(id_col) == probe_id)
        .select(F.col(vec_col).alias("__probe"), F.col("__bucket").alias("__pbucket"))
    )
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__probe")), 6)
    near = F.bit_count(
        F.col("__bucket").bitwiseXOR(F.col("__pbucket"))
    ) <= multiprobe_hamming
    return (
        bucketed.filter(F.col(id_col) != probe_id)
        .crossJoin(F.broadcast(probe))
        .filter(near)
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def _assign_cells(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Tag every vector with the __cell of its most-cosine-similar
    centroid — as a PURE EXPRESSION, zero shuffles: the centroid table
    is k×dim floats (driver-collected, the same economics as the
    k-means loop), embedded as literal arrays; per row the k sims form
    an array and argmax = array_position of the max (first occurrence
    ⇒ smallest cell id on ties, matching the old window's ordering).
    The previous crossJoin + per-id window shuffled |corpus|·k rows
    per assignment pass — ×(iters+1) passes in a k-means build; this
    form keeps every pass narrow and codegen'd."""
    rows = sorted(
        (int(r["__cell"]), [float(x) for x in r["__cvec"]])
        for r in centroids.collect()
    )

    # Build ONE SQL string and let the JVM parse it: constructing the
    # same tree through the Column API costs k×dim py4j round trips
    # (~2 s at k=16, d=64 — measured), swamping the actual work.
    def cos_sql(vec):
        a = sql_double_array(vec)
        # same formulation as functions.vectors.cosine_similarity;
        # nanvl maps a degenerate (zero-norm) NaN below any real sim
        # so argmax stays well-defined
        return (
            f"nanvl(aggregate(zip_with({vec_col}, {a}, (x, y) ->"
            " CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
            f" / (sqrt(aggregate(transform({vec_col}, x ->"
            " CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x))"
            f" * sqrt(aggregate(transform({a}, x -> x * x), 0.0D,"
            " (acc, x) -> acc + x))), -2.0D)"
        )

    sims = "array(" + ",".join(cos_sql(v) for _, v in rows) + ")"
    cells = "array(" + ",".join(str(c) for c, _ in rows) + ")"
    # array_position's first-occurrence rule = smallest cell id on
    # ties, matching the old window's (desc sim, asc cell) ordering
    return df.withColumn("__sims", F.expr(sims)).withColumn(
        "__cell",
        F.expr(
            f"element_at({cells}, "
            "CAST(array_position(__sims, array_max(__sims)) AS INT))"
        ),
    ).drop("__sims")


def _seed_centroids(
    df: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic SPREAD seeds: the corpus is split into n_cells
    hash strata and each stratum's smallest-id vector becomes a seed.
    One partial-aggregable shuffle (groupBy + min_by) — no global sort,
    no single-partition window, scale-safe. Spread seeding matters:
    the first-k-ids alternative degenerates when ids correlate with
    content (all seeds land in one region and Lloyd has to crawl out)."""
    stratum = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_cells))
    return (
        df.groupBy(stratum.cast("int").alias("__cell"))
        .agg(F.min_by(F.col(vec_col), F.col(id_col)).alias("__cvec"))
        .select((F.col("__cell") + 1).alias("__cell"), "__cvec")
    )


def kmeans_centroids(
    df: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the seeded centroids.

    Each iteration: distributed nearest-centroid assignment over the
    full corpus, then the new centroid = element-wise mean of its cell
    (posexplode → groupBy(cell, pos) avg — a plain shuffle agg). Only
    the k×dim centroid floats cross to the driver per iteration (the
    same design as MLlib's KMeans), which also truncates lineage —
    no checkpointing needed for the iterative loop. Cosine ranking is
    direction-only, so the un-normalized mean is a valid spherical
    centroid. Empty cells keep their previous centroid.
    """
    spark = df.sparkSession
    schema = f"__cell INT, __cvec {df.schema[vec_col].dataType.simpleString()}"
    current = {
        r["__cell"]: r["__cvec"]
        for r in _seed_centroids(df, n_cells, id_col, vec_col).collect()
    }
    for _ in range(iters):
        cdf = spark.createDataFrame(sorted(current.items()), schema)
        means = (
            _assign_cells(df, cdf, id_col, vec_col)
            .select("__cell", F.posexplode(vec_col).alias("__pos", "__val"))
            .groupBy("__cell", "__pos")
            .agg(F.avg("__val").alias("__m"))
            .groupBy("__cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__m"))
                ).alias("__pairs")
            )
            .select("__cell", F.col("__pairs.__m").alias("__cvec"))
            .collect()
        )
        for r in means:
            current[r["__cell"]] = [float(v) for v in r["__cvec"]]
    return spark.createDataFrame(sorted(current.items()), schema)


def ivf_assign(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Assign every vector to its nearest centroid cell.

    Centroids = deterministic seeds (smallest-id vectors), optionally
    refined by `kmeans_iters` Lloyd rounds. Returns (assigned_df with
    __cell column, centroids_df)."""
    if kmeans_iters > 0:
        centroids = kmeans_centroids(df, n_cells, kmeans_iters, id_col, vec_col)
    else:
        centroids = _seed_centroids(df, n_cells, id_col, vec_col)
    return _assign_cells(df, centroids, id_col, vec_col), centroids


def cosine_topk_ivf(
    df: DataFrame,
    probe_id,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
) -> DataFrame:
    """IVF search: rank centroids by similarity to the probe, scan the
    n_probe best cells only. `kmeans_iters` Lloyd rounds refine the
    cells first (better-balanced cells → better recall per probed
    fraction) — the default; pass 0 for raw hash-strata seeds."""
    assigned, centroids = ivf_assign(df, n_cells, id_col, vec_col, kmeans_iters)
    probe = _probe_df(df, id_col, vec_col, probe_id)
    probe_cells = (
        centroids.crossJoin(F.broadcast(probe))
        .select("__cell", cosine_similarity(F.col("__cvec"), F.col("__probe")).alias("__s"))
        .orderBy(F.desc("__s"))
        .limit(n_probe)
        .select("__cell")
    )
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__probe")), 6)
    return (
        assigned.join(F.broadcast(probe_cells), "__cell")
        .filter(F.col(id_col) != probe_id)
        .crossJoin(F.broadcast(probe))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_quantized_rerank(
    df: DataFrame,
    probe_id,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: coarse top-`rerank` on int8 codes (the 4×-smaller
    scan that is the memory-bandwidth win at 100 TB), exact cosine
    rerank of just those candidates. With rerank ≫ k the result
    matches exact search in practice (pinned by tests at this corpus).
    """
    from shmr_spark.functions.vectors import cosine_similarity, quantize_int8

    coded = df.select(
        F.col(id_col),
        F.col(vec_col),
        quantize_int8(vec_col).alias("__codes"),
    )
    probe = coded.filter(F.col(id_col) == probe_id).select(
        F.col(vec_col).alias("__probe"), F.col("__codes").alias("__pcodes")
    )
    # coarse score: centered int8 dot product (codes are uniform per
    # vector, so the 128-centered dot tracks cosine direction)
    coarse = F.aggregate(
        F.zip_with(
            F.col("__codes"),
            F.col("__pcodes"),
            lambda a, b: (a - F.lit(128)).cast("long") * (b - F.lit(128)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    candidates = (
        coded.filter(F.col(id_col) != probe_id)
        .crossJoin(F.broadcast(probe))
        .withColumn("__coarse", coarse)
        .orderBy(F.desc("__coarse"), F.asc(id_col))
        .limit(rerank)
    )
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__probe")), 6)
    return (
        candidates.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )
