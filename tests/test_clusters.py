"""Connected-components / cluster-dedup tests on known topologies."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from shmr_spark.dedup.clusters import (
    connected_components,
    dedup_keep_cluster_representative,
)


def test_chain_merges_into_one_component(spark):
    """a-b, b-c, c-d: transitive closure must label all with min(a)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comps = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_long_chain_needs_multiple_rounds(spark):
    """A 12-node path exercises >1 propagation round (diameter 11;
    min-label needs ~log rounds with doubling via neighbor-min, linear
    worst case — either way > 1)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    comps = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert set(comps.values()) == {100}
    assert len(comps) == 12


def test_dedup_keep_representative(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 5), (5, 7), (2, 3)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_keep_cluster_representative(docs, pairs).collect()
    )
    # clusters {1,5,7} -> keep 1; {2,3} -> keep 2; singletons survive
    assert kept == [0, 1, 2, 4, 6]


def test_empty_pairs_keeps_everything(spark):
    docs = spark.createDataFrame([(i, "t") for i in range(5)], "doc_id long, text string")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_keep_cluster_representative(docs, pairs).count() == 5


def test_keep_best_in_cluster_picks_quality_not_id(spark):
    """In a cluster {1,2,3} where 2 has the best quality, min-id
    keeps 1 but keep-best keeps 2; ties break to the smaller id;
    unpaired docs survive."""
    from shmr_spark.dedup.clusters import (
        dedup_keep_best_in_cluster,
        dedup_keep_cluster_representative,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 10), (7, 5), (8, 5), (9, 1)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    best = {
        r.doc_id
        for r in dedup_keep_best_in_cluster(docs, pairs, "quality").collect()
    }
    assert best == {2, 7, 9}  # 2 wins on quality; 7 wins the 5-5 tie; 9 unpaired
    minid = {
        r.doc_id
        for r in dedup_keep_cluster_representative(docs, pairs).collect()
    }
    assert minid == {1, 7, 9}


def _min_id_components(edges):
    """Pure-Python union-find; every root is its component's min id."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_random_graphs_match_union_find(spark, data):
    """Labels equal the min id per component on random edge lists with
    self-loops, duplicate and reversed edges, isolated pairs, and a
    shuffled chain of up to 12 nodes that needs several rounds."""
    node = st.integers(0, 40)
    edges = data.draw(st.lists(st.tuples(node, node), max_size=25))
    chain = data.draw(st.permutations(range(50, 50 + data.draw(st.integers(2, 12)))))
    edges += list(zip(chain, chain[1:]))
    isolated = data.draw(st.lists(st.integers(100, 200), max_size=5, unique=True))
    edges += [(a, a + 1000) for a in isolated]
    edges += data.draw(st.lists(st.sampled_from(edges), max_size=8))
    edges += [(b, a) for a, b in data.draw(st.lists(st.sampled_from(edges), max_size=8))]

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == _min_id_components(edges)
