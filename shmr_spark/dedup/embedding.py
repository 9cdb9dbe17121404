"""Embedding-cosine near-duplicate detection with random-hyperplane
LSH blocking (the scale path; the brute-force variant is the
embedding_neardup oracle query).

Hyperplanes are deterministic (numpy PCG64 seed) and ship as a plain
literal array column — tiny, embedded in the plan, no broadcast
variable plumbing needed. Bucket id = sign-bit pattern of the
hyperplane dot products; candidates come from an equi-join on the
bucket, verified with exact cosine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shmr_spark.functions.vectors import dot, l2_norm, sql_double_array, sql_ident
from shmr_spark.session import materialize


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (rounded so the literal is
    compact and cross-platform stable)."""
    rng = np.random.default_rng(seed)
    return [[round(float(x), 6) for x in row] for row in rng.standard_normal((n_planes, dim))]


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id (long) of a vector under the planes.

    For a string column name the expression is built as ONE parsed
    expr string (the minhash k=64 plan-BUILD lesson): the operator
    form costs n_planes × (dim literal F.lit py4j round trips + the
    lambda machinery) PER CONSTRUCTION — measured as the bulk of
    knn_join_lsh_prod's 1.7-2.6 s warm build time at 8 planes × 64
    dims. Semantics are bit-identical: the planes are rendered by
    ``sql_double_array`` (exactly the doubles F.lit() ships), and the
    operand order in the dot fold is unchanged."""
    if isinstance(vec, str):
        # zero planes (the degenerate single-bucket oracle configs)
        # must still yield the constant-0 bucket the operator form
        # produced — an empty sum would be a dangling '+' parse error
        if not planes:
            return F.lit(0).cast("long")
        terms = []
        for i, p in enumerate(planes):
            d = (
                f"aggregate(zip_with({sql_ident(vec)}, {sql_double_array(p)}, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            terms.append(
                f"IF({d} >= 0, shiftleft(CAST(1 AS BIGINT), {i}), "
                "CAST(0 AS BIGINT))"
            )
        return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*(F.lit(x) for x in p))
        bit = F.when(dot(vec, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 8,
    threshold: float = 0.95,
    seed: int = 42,
    multiprobe_hamming: int = 0,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, sim ≥ threshold) via LSH-bucket
    blocking + exact cosine verify.

    Recall control: sign-LSH splits some true pairs across buckets.
    ``multiprobe_hamming=r`` expands each LEFT row to every bucket id
    within Hamming distance r before the equi-join — the candidate
    space grows by C(p, ≤r) while staying a plain equi-join (each pair
    is generated by exactly one mask, so no dedup pass is needed).
    r=1 recovers all pairs differing on a single hyperplane sign —
    most of the loss at practical n_planes."""
    planes = hyperplanes(dim, n_planes, seed)
    bucketed = materialize(  # bucket dots reused by both join sides
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            # norm precomputed per ROW, not per PAIR: the verify cosine
            # then costs one dot per candidate pair instead of dot + two
            # norms (3d → d flops) — same operand order as
            # cosine_similarity, so values are bit-identical
            l2_norm(vec_col).alias("__n"),
            lsh_bucket(vec_col, planes).alias("__bucket"),
        )
    )
    a = bucketed
    if multiprobe_hamming > 0:
        from shmr_spark.similarity.knn import _neighbor_buckets

        a = bucketed.select(
            "__id",
            "__v",
            "__n",
            F.explode(
                _neighbor_buckets(
                    F.col("__bucket"), n_planes, multiprobe_hamming
                )
            ).alias("__bucket"),
        )
    a = a.alias("a")
    # round(,6) (not dquant): cosine quantization stays on round()
    # across the similarity tier because its oracles use round() too
    # and the engines only disagree within ~1 ulp of a 6th-decimal
    # half boundary — tests/test_edge_cases.py::
    # test_gate_cosines_clear_round_boundaries measures the corpus
    # sims' distance from those boundaries (the PageRank case, by
    # contrast, was ITERATIVE — requantizing each round — which is
    # what made a single boundary hit reachable; see numeric.dquant).
    sim = F.round(
        dot(F.col("a.__v"), F.col("b.__v")) / (F.col("a.__n") * F.col("b.__n")), 6
    )
    if n_planes == 0:
        # Degenerate all-pairs oracle config: __bucket is a constant,
        # so ANY hash-partitioned join strategy (hinted sort-merge, or
        # the planner's own sort-merge once the input outgrows the
        # broadcast threshold) lands every row in ONE task — a serial
        # O(n²) verify. An explicit cross join keeps the all-pairs
        # work parallel (CartesianProduct schedules left×right
        # partition pairs as independent tasks) at every input size.
        # Still O(n²) WORK by definition — this config exists for
        # oracle equivalence and tests, never as the production path.
        b = bucketed.alias("b")
        pairs = a.crossJoin(b).where(F.col("a.__id") < F.col("b.__id"))
    else:
        # corpus self-join: never broadcast a side — pin sort-merge
        b = bucketed.hint("merge").alias("b")
        pairs = a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
    return pairs.select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        sim.alias("sim"),
    ).filter(F.col("sim") >= threshold)
