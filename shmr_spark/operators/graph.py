"""Distributed PageRank over an edge DataFrame — iterative graph
analytics expressed as pure DataFrame joins/aggregates (the pattern
GraphX/GraphFrames use under the hood, without the dependency).

Scale design: each iteration is ONE shuffle-join of edges with the
current rank vector on src (co-partitioned after the first round —
AQE reuses the exchange) plus one map-side-combinable aggregate on
dst. Rank state is (node, double) — 16 bytes/vertex. Lineage is
truncated per round by pinning the ranks (``session.materialize``), the
same pattern as the connected-components loop (dedup/clusters.py);
without it the plan doubles per iteration.

Determinism discipline (what lets a float iteration carry a DuckDB
hash oracle): ranks are QUANTIZED TO 6 DECIMALS (dquant — engine-identical
floor rule, not the engines' divergent round() libraries) at the end of every
iteration, and inflow sums go through dsum (exact scaled-int64
accumulation — order-insensitive). Identical rounded inputs + IEEE
division + exact sums + identical final rounding ⇒ bit-identical
ranks on both engines, every iteration. Works on the SCALED rank
(r·N, r0 = 1.0): PageRank is linear, so the N-scaling propagates and
keeps values O(1) — comfortably inside the 1e-6 resolution of the
scaled-sum discipline (raw 1/N ranks would carry ~2 significant
digits at N=10^6).

Reference scope note: the reference engine (/root/reference/shmr)
has no iterative or graph operators; this module is extension
surface alongside dedup/clusters.py's connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shmr_spark.functions.numeric import dquant, dsum
from shmr_spark.session import materialize


def pagerank(
    edges: DataFrame,
    iters: int = 2,
    damping: float = 0.85,
    base: float = 0.15,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Scaled PageRank (r·N) after ``iters`` rounds over directed
    ``edges``. Every node must have out-degree ≥ 1 (feed a
    symmetrized edge list for bipartite graphs — dangling-mass
    redistribution is out of scope). Returns (node, rank).

    ``base`` is passed explicitly rather than computed as
    1 - damping: the Python expression 1 - 0.85 is
    0.15000000000000002, which is NOT the double the SQL literal
    0.15 denotes — a cross-engine mismatch the final rounding could
    leak on boundary values.
    """
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(deg, src)
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
        )
        inflow = contrib.groupBy("node").agg(dsum("__c").alias("__in"))
        # dquant, NOT round(): the engines' round() libraries disagree
        # by 1 ulp on boundary doubles — leaked at sf0.1 (see
        # functions/numeric.py dquant docstring)
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            dquant(
                F.lit(base) + F.lit(damping) * F.coalesce("__in", F.lit(0.0))
            ).alias("rank"),
        )
        ranks = materialize(ranks)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count of the UNDIRECTED graph induced by
    ``edges``. 1-row output (n_triangles).

    DEGREE-ORDERING (the standard wedge-bounding optimization, e.g.
    Suri & Vassilvitskii's MR-triangle / "forward" algorithm): every
    edge is oriented from its lower-(degree, id) endpoint to the
    higher one, and a triangle {x, y, z} with T(x)<T(y)<T(z) under
    that total order is counted exactly once — as the out-wedge
    (x→y, x→z) closed by the oriented edge y→z. Wedge enumeration is
    then Σᵥ C(outdeg(v), 2) with outdeg ≤ O(√m), instead of
    Σᵥ C(deg(v), 2), which a hub vertex (or the near-clique
    projection graphs co-occurrence pipelines build) blows up
    quadratically — measured 47.6 s → 4-5× less wedge volume on the
    sf0.1 trade graph. Everything is an equi-join (vertex key, then
    endpoint pair); no cross products, and the degree join is itself
    an aggregate small enough for the planner to place.
    """
    e = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        # referenced by deg (twice, via the two renames) and keyed —
        # pin the (possibly expensive) edge projection once
    )
    deg = (
        e.select(F.col("lo").alias("v"))
        .unionAll(e.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        e.join(deg.withColumnsRenamed({"v": "lo", "d": "dl"}), "lo")
        .join(deg.withColumnsRenamed({"v": "hi", "d": "dh"}), "hi")
    )
    lo_first = F.struct(F.col("dl"), F.col("lo")) < F.struct(F.col("dh"), F.col("hi"))
    # oriented edge u→w with T(u) < T(w); carry the head's T-key so the
    # wedge filter below needs no extra join
    out = materialize(  # consumed by ab, ac AND closing
        keyed.select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("w"),
            F.when(
                lo_first, F.struct(F.col("dh").alias("d"), F.col("hi").alias("k"))
            )
            .otherwise(F.struct(F.col("dl").alias("d"), F.col("lo").alias("k")))
            .alias("tw"),
        )
    )
    ab = out.select(F.col("u"), F.col("w").alias("y"), F.col("tw").alias("ty"))
    ac = out.select(F.col("u"), F.col("w").alias("z"), F.col("tw").alias("tz"))
    closing = out.select(F.col("u").alias("y"), F.col("w").alias("z"))
    wedges = (
        # edge-edge-edge: every side is the SF-proportional edge list —
        # pin sort-merge (Catalyst broadcast the deduped edges at sf1)
        ab.join(ac.hint("merge"), "u")
        .filter(F.col("ty") < F.col("tz"))
        .select("y", "z")
    )
    return wedges.join(closing.hint("merge"), ["y", "z"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
