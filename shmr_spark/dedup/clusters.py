"""Duplicate clustering: connected components over near-dup pairs.

Pair detection (MinHash/SimHash/embedding LSH) yields edges; keeping
one document per duplicate CLUSTER requires the transitive closure —
a~b, b~c ⇒ {a,b,c} — i.e. connected components, the canonical
iterative-DataFrame algorithm (not SQL-expressible; the driver gate
records it rows-only, tests pin known topologies).

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round every node adopts the minimum label in its
neighborhood (via a join along edges); stop when no label changes.
Converges in O(diameter) rounds. Scale hygiene:

- edges are symmetrized once; each round is one join + one agg —
  both shuffle on the node id, so a cluster-by-cluster skew is spread
  over hash partitions, not one reducer;
- the symmetrized edges and each round's labels are pinned
  (``session.materialize``), which cuts the lineage chain that would
  otherwise grow the plan exponentially and overwhelm the optimizer —
  THE classic iterative-Spark failure mode;
- the driver-side loop runs one tiny count per round (the
  convergence check), not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shmr_spark.session import materialize


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    component = min node id in the connected component."""
    edges = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    labels = materialize(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("nmin"))
        )
        # carry the round's old label alongside the new one so the
        # convergence check is a filter over THIS round's pinned frame
        # — the previous new⋈old labels join per round
        # shuffled the label table twice per iteration just to count
        # changes (measured at sf0.1 pipeline pairs: 1.10 → 0.90 s
        # min over the whole CC, r12 optimization)
        # the pin is lazy: the convergence count's job is what computes
        # and keeps the round's labels, so each round runs ONE job
        # instead of a materializing job plus a count job
        staged = materialize(
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.col("comp").alias("__prev"),
                F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
            )
        )
        changed = staged.filter(F.col("comp") != F.col("__prev")).count()
        labels = staged.select("node", "comp")
        if changed == 0:
            break
    return labels


def dedup_keep_cluster_representative(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Drop every document whose near-dup cluster has a lower-id
    member: the end-to-end near-dup dedup (pairs → components → keep
    min per component). Documents in no pair survive untouched."""
    comps = connected_components(pairs, src, dst)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best_in_cluster(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup dedup keeping the HIGHEST-QUALITY member of each
    cluster (ties -> smallest id) instead of the smallest id — what a
    production pipeline wants: when a document survives in several
    crawls or mirrors, keep the cleanest copy, not the
    lexicographically first one. ``quality_col`` must be numeric;
    documents in no pair survive untouched.

    One aggregate per cluster (max_by over a (quality, -id) struct —
    struct ordering gives the deterministic tie-break) and one
    anti-join; components are tiny next to the corpus.
    """
    comps = connected_components(pairs, src, dst)
    scored = comps.join(
        df.select(F.col(id_col).alias("node"), F.col(quality_col).alias("__q")),
        "node",
    )
    winners = scored.groupBy("comp").agg(
        F.max_by(
            "node", F.struct(F.col("__q"), (-F.col("node")).alias("__t"))
        ).alias("__winner")
    )
    losers = (
        comps.join(winners, "comp")
        .filter(F.col("node") != F.col("__winner"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
