"""Physical-plan quality gates: the 100 TB-scale properties the
operators rely on must be visible in the plan, not assumed —
regressions here mean a scan reads too much, a join stops
broadcasting, or an agg loses its map-side combine.
"""

from __future__ import annotations

import pytest

from shmr_spark.queries import load_all


def _plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = load_all()[name].fn(spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def _tree(plan: str) -> str:
    """The operator-tree section of a formatted plan (each node also
    reappears in the detail section — count nodes here only)."""
    return plan.split("\n\n")[0]


def _final_plan(spark, sf_dir, name: str) -> str:
    """Execute the query so AQE finalizes, then return the executed
    plan string (codegen span markers *(n) only appear post-run)."""
    df = load_all()[name].fn(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_map_project_prunes_columns(spark, sf_dir):
    """A 3-column projection must read 4 source columns, not 11."""
    plan = _plan(spark, sf_dir, "map_project")
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_shipdate" not in read and "l_returnflag" not in read


def test_filter_orders_pushes_predicates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_orders")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThan(o_totalprice" in pushed
    assert "EqualTo(o_orderstatus,O)" in pushed


def test_q1_filter_pushdown_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "reduce_by_key_q1")
    # shipdate predicate reaches the scan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    # partial (map-side) + final aggregation pair
    assert "partial_sum" in plan
    assert _tree(plan).count("HashAggregate") == 2
    # stays inside whole-stage codegen (markers appear once AQE ran)
    assert "*(" in _final_plan(spark, sf_dir, "reduce_by_key_q1")


def test_three_way_join_strategy_split(spark, sf_dir):
    """The fact-fact join (lineitem⋈orders) pins sort-merge — orders'
    pruned scan sits under the broadcast size estimate far past the
    point where the driver-side hash build dominates (measured: the
    whole q9 scale regression), and at real scale it can never
    broadcast. The customer side stays Catalyst-chosen and broadcasts
    at test SF."""
    plan = _plan(spark, sf_dir, "join_three_way")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    """Global top-k must plan as TakeOrdered (per-partition heap +
    merge), never a full sort of the aggregate output."""
    plan = _plan(spark, sf_dir, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_similarity_topk_take_ordered_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "similarity_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_distinct_first_single_shuffle(spark, sf_dir):
    """Window-based first-occurrence dedup needs exactly one exchange
    (partition by key), not one for the window plus one for a join."""
    plan = _plan(spark, sf_dir, "distinct_first")
    assert _tree(plan).count("Exchange") == 1
    assert "Arguments: hashpartitioning" in plan


def test_flat_map_generate_no_shuffle(spark, sf_dir):
    """explode is narrow: token streaming must not shuffle at all."""
    plan = _plan(spark, sf_dir, "flat_map_tokens")
    assert "Generate" in _tree(plan)
    assert "explode" in plan
    assert "Exchange" not in _tree(plan)


@pytest.mark.parametrize("name", ["dedup_minhash", "dedup_simhash"])
def test_neardup_no_python_udf_in_plan(spark, sf_dir, name):
    """The dedup pipelines must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython nodes (Python UDFs) anywhere in the plan."""
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q6_single_pass_scan_agg(spark, sf_dir):
    """Q6 is the pure-scan benchmark: every predicate reaches the
    parquet scan and the only exchange is the final 1-row aggregate."""
    plan = _plan(spark, sf_dir, "q6_promo_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # formatted plans list each node twice (tree + details): count
    # tree entries only, in the final plan section when AQE repeats it
    import re

    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange \(\d+\)", final)) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_q3_broadcast_and_take_ordered(spark, sf_dir):
    """Q3's top-10 must be TakeOrderedAndProject (no global sort
    materialization) and the filtered dimensions must broadcast —
    never a shuffle of the lineitem side per dimension."""
    plan = _plan(spark, sf_dir, "q3_top_orders")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_join_no_cartesian(spark, sf_dir):
    """The binned interval join must plan as an equi-join (hash/merge
    on (key, bin)) — never BroadcastNestedLoopJoin or
    CartesianProduct, which is what a naive |a.ts-b.ts|<=tol predicate
    becomes."""
    plan = _plan(spark, sf_dir, "interval_join_events")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_pack_sequences_no_global_window_on_data(spark, sf_dir):
    """The two-phase prefix sum must window the DATA partitioned by
    bucket (parallel); the only SinglePartition exchange allowed is
    the tiny per-bucket totals table. A naive global-order window
    would put the whole corpus through one task."""
    plan = _plan(spark, sf_dir, "pack_sequences")
    tree = _tree(plan)
    # the data-side window keys on __bucket
    assert "partitionBy=[__bucket" in plan.replace(" ", "") or "__bucket" in plan
    # broadcast join of the offsets, not a shuffle join
    assert "BroadcastHashJoin" in tree or "BroadcastExchange" in plan


def test_pipeline_queries_no_python_udf(spark, sf_dir):
    """The new pipeline composites stay JVM-side end to end."""
    for name in (
        "pack_sequences",
        "inverted_index",
        "sentence_dedup",
        "training_subset",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_token_budget_select_no_global_window_on_data(spark, sf_dir):
    """Same scale invariant as pack_sequences: the corpus-side window
    must be partitioned by score bucket; only the tiny bucket-totals
    table may pass through a SinglePartition exchange."""
    plan = _plan(spark, sf_dir, "token_budget_select")
    tree = _tree(plan)
    assert "__bucket" in plan
    assert "BroadcastHashJoin" in tree or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_rollup_merge_broadcasts_day_list_and_partial_agg(spark, sf_dir):
    """merge_rollup: the touched/untouched split must join on a
    BROADCAST of the delta's distinct days (partition pruning when the
    state is day-partitioned — a shuffled join would defeat it), and
    the partial aggregations keep their map-side combine."""
    plan = _plan(spark, sf_dir, "rollup_incremental")
    tree = _tree(plan)
    assert tree.count("BroadcastHashJoin") >= 2  # touched + untouched
    assert "CartesianProduct" not in tree
    assert "partial_sum" in plan


def test_duplicate_spans_no_cartesian_and_doc_partitioned_window(spark, sf_dir):
    """duplicate_spans: the join back onto duplicated gram hashes must
    be an equi-join (never a cross product), and the island-merge
    window must be PARTITIONED by document — a global window here
    would serialize the corpus through one task."""
    plan = _plan(spark, sf_dir, "duplicate_spans")
    tree = _tree(plan)
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree
    # the Window node carries the doc_id partition spec
    win = [ln for ln in plan.splitlines() if "Window" in ln or "windowspecdefinition" in ln]
    assert any("doc_id" in ln for ln in win)


def test_streaming_enrich_uses_broadcast_join(spark, sf_dir):
    """Stream-static enrichment must keep the dim on the broadcast
    side — a shuffle added to the unbounded side per micro-batch is
    the anti-pattern this operator exists to avoid. (Checked on the
    batch twin of the join: streaming plans only materialize inside
    the query execution.)"""
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.streaming.enrich import enrich_stream

    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    df = enrich_stream(ev, dim, on="user_id")  # batch DF through same code path
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "BroadcastHashJoin" in _tree(plan)


def test_range_shards_no_global_window_on_data(spark, sf_dir):
    """global_rank's two-phase scan: the data-side window keys on
    __bucket (parallel); offsets and the 1-row total arrive by
    broadcast. A naive global row_number would single-task the
    corpus."""
    plan = _plan(spark, sf_dir, "range_shards_orders")
    assert "partitionBy=[__bucket" in plan.replace(" ", "") or "__bucket" in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_diff_shuffles_hashes_not_payloads(spark, sf_dir):
    """The diff join must exchange (id, hash) projections only — the
    text payload is hashed scan-side and never crosses the shuffle."""
    plan = _plan(spark, sf_dir, "corpus_snapshot_diff")
    tree = _tree(plan)
    assert "xxhash64" in plan
    assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree
    # no exchange carries the text column: every Exchange node's
    # output in the detail section is (doc_id, hash)-shaped
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.splitlines()[0]:
            assert "text" not in block, block


def test_new_graph_and_split_queries_stay_jvm_side(spark, sf_dir):
    """No Python-UDF nodes in the round-4 additions: graph,
    leakage-safe split, keep-best dedup, EWMA, semantic dedup."""
    for name in (
        "pagerank_trade_graph",
        "triangle_count_trade",
        "leakage_safe_split",
        "dedup_keep_best_quality",
        "ewma_customer_orders",
        "dedup_semantic",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_ewma_window_is_partitioned(spark, sf_dir):
    """The EWMA lags run over a customer-partitioned window — never a
    global single-partition sort."""
    plan = _plan(spark, sf_dir, "ewma_customer_orders")
    flat = plan.replace(" ", "")
    assert "partitionBy=[o_custkey" in flat or "o_custkey" in flat
    assert "SinglePartition" not in _tree(plan)


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Catalyst's runtime bloom filter (on by default in this build)
    must inject a might_contain pre-filter on the fact side of a
    selective shuffle join — the declarative plan gets semi-join
    reduction for free, which is why the engine does NOT hand-roll
    bloom membership operators. Thresholds are lowered here because
    test-SF tables sit under the production defaults (10 MB creation
    side); the rewrite itself is what's pinned."""
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "might_contain" in plan, "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cusum_and_interpolation_single_exchange(spark, sf_dir):
    """Both window-composed operators must reuse ONE hash exchange for
    every window frame they compute — a second shuffle would double
    the dominant cost at scale."""
    for name in ("drift_cusum_events", "interpolate_gaps"):
        plan = _plan(spark, sf_dir, name)
        assert _tree(plan).count("Exchange") == 1, f"{name} re-shuffles"


FACT_FACT_MERGE_QUERIES = [
    # every query whose fact-fact join (lineitem⋈orders,
    # customer⋈orders, or a corpus self-join) pins sort-merge — the
    # round-5 broadcast audit found Catalyst's file-size estimate
    # broadcasting even 1.5M-row orders at the 10× corpus, with the
    # linear driver-side hash build as the q9 scale regression
    "sql_q5_region_revenue",
    "join_three_way",
    "join_inner",
    "join_left",
    "join_semi",
    "join_anti",
    "q7_nation_volume",
    "q8_market_share",
    "q9_profit_by_nation",
    "q10_returned_top_customers",
    "q13_customer_distribution",
    "q18_large_orders",
    "q21_single_fault_suppliers",
    "q22_dormant_customers",
    "referential_integrity",
    "interval_join_events",
    "fuzzy_name_pairs",
]


@pytest.mark.parametrize("name", FACT_FACT_MERGE_QUERIES)
def test_fact_fact_joins_stay_sort_merge(spark, sf_dir, name):
    """The merge hints are load-bearing scale policy: if one is
    dropped, the plan silently reverts to a broadcast whose build
    side grows linearly with SF. SortMergeJoin in the plan at ANY SF
    proves the hint is still attached (hints override the size
    estimate, so the assertion is scale-independent)."""
    plan = _plan(spark, sf_dir, name)
    assert "SortMergeJoin" in plan, f"{name}: fact-fact merge hint lost"


# --------------------------------------------------------------------
# Registry-wide single-task-window net (round-10, institutionalizing
# the round-9 verdict's finding: order_value_deciles and vocab_growth
# ran partition-less windows over FULL-cardinality data). Rule: a
# Window with an empty partitionSpec moves its entire input through
# ONE task, so it is only ever acceptable over a provably bounded
# input — in this codebase that means the input chain reaches a
# grouped Aggregate whose keys are either the two-phase-scan bucket
# columns or a gate-allowlisted bounded domain key. Bucket audit
# (round 10): ranking._auto_bucketed and everything on it
# (global_rank/global_ntile/range_shards, packing.prefix_sum and
# pack_sequences) is O(N_BUCKETS)=O(4096) at ANY corpus size;
# selection.py buckets by score domain (O(score_buckets));
# validate.py's id-gap scan buckets by RANK-space since round 11
# (sampled repartitionByRange partitions — equal population, so an
# outlier key can't collapse its parallelism the way value-space
# cells can; its stitch summary is bounded at num_partitions ≤ 4096).
# No div-constant cell remains. New operators should bucket via
# _auto_bucketed (well-distributed keys) or rank-space range
# partitions (outlier-prone keys).
# --------------------------------------------------------------------

# gate -> (allowed grouping key, why that domain is bounded)
BOUNDED_DOMAIN_WINDOWS = {
    # language-share quota: one row per language (~dozens)
    "apportion_sample_quota": ("lang", "per-language quota table"),
    # nation revenue share: one row per nation (25 in TPC-H)
    "revenue_contribution": ("s_nationkey", "per-nation aggregate"),
}


def _unpartitioned_window_inputs(df):
    """[(grouping-key names at the first Aggregate under each
    partition-less Window)] for df's optimized logical plan; a chain
    that never reaches an Aggregate reports its terminal node name."""

    def walk(node):
        yield node
        it = node.children().iterator()
        while it.hasNext():
            yield from walk(it.next())

    out = []
    plan = df._jdf.queryExecution().optimizedPlan()
    for n in walk(plan):
        if n.nodeName() != "Window" or not n.partitionSpec().isEmpty():
            continue
        c = n
        # descend through shape-preserving nodes to the node that
        # determines the window's input cardinality
        for _ in range(32):
            ch = c.children()
            if ch.isEmpty():
                break
            c = ch.iterator().next()
            if c.nodeName() not in ("Project", "Filter", "Sort", "Window"):
                break
        if c.nodeName() != "Aggregate":
            out.append(("<" + c.nodeName() + ">",))
            continue
        ge = c.groupingExpressions()
        names = []
        for i in range(ge.size()):
            e = ge.apply(i)
            try:
                names.append(str(e.name()))
            except Exception:  # noqa: BLE001 - non-attribute grouping expr
                names.append(str(e))
        out.append(tuple(names))
    return out


def test_no_unpartitioned_window_over_unbounded_input(spark, sf_dir, gate_frames):
    """Every registry gate: any partition-less Window must read from a
    bucket-totals Aggregate (``__bucket``/``__b``) or a gate-specific
    bounded-domain Aggregate listed above — anything else is the
    single-task funnel that serializes the corpus at scale."""
    errors: list[str] = []
    offenders: list[str] = []
    allowlist_used: set[str] = set()
    for name, df in gate_frames.items():
        if isinstance(df, Exception):
            errors.append(f"{name}: build failed: {df!r}")
            continue
        allowed_key = BOUNDED_DOMAIN_WINDOWS.get(name, (None,))[0]
        for keys in _unpartitioned_window_inputs(df):
            ok = keys and all(
                k.startswith("__b") or k == allowed_key for k in keys
            )
            if ok and allowed_key is not None and allowed_key in keys:
                allowlist_used.add(name)
            if not ok:
                offenders.append(f"{name}: Window over Aggregate{list(keys)}")
    assert not errors, "\n".join(errors)
    stale = set(BOUNDED_DOMAIN_WINDOWS) - allowlist_used
    assert not stale, (
        "BOUNDED_DOMAIN_WINDOWS entries no longer match any "
        f"partition-less window (stale allowlist — prune them): {stale}"
    )
    assert not offenders, (
        "partition-less Window over unbounded input (single-task funnel "
        "at scale — use operators/ranking.global_rank / global_ntile or "
        "operators/packing.prefix_sum, or allowlist a bounded domain):\n"
        + "\n".join(offenders)
    )


def test_pq_gate_queries_never_collect_the_corpus():
    """Round-6 de-weak guard: the PQ/IVFPQ gate queries' degenerate
    codebook is built in-plan (degenerate_codebook_df); the only
    driver-side data either gate may touch is the 1-row probe via
    _probe_vector. A reintroduced `.collect()` (the round-5 weak
    finding: full-corpus driver collect to build the codebook) fails
    here at any SF."""
    import inspect

    from shmr_spark.queries import vectors as vq

    for fn in (vq.similarity_pq_topk, vq.similarity_ivfpq_topk):
        src = inspect.getsource(fn)
        assert ".collect(" not in src, f"{fn.__name__} collects corpus rows"
        assert "degenerate_codebook_df" in src, (
            f"{fn.__name__} no longer builds its codebook in-plan"
        )


def test_distinct_ngram_diversity_is_scan_project_only(spark, sf_dir):
    """The distinct-n diversity gate is pure per-row expression work:
    the physical plan must be a parquet scan + project — zero
    exchanges, zero generates (the n-gram ratios are array
    expressions, not explodes)."""
    plan = _plan(spark, sf_dir, "distinct_ngram_diversity")
    tree = _tree(plan)
    assert "Exchange" not in tree
    assert "Generate" not in tree
    assert tree.count("Scan parquet") == 1


def test_cross_source_overlap_reuses_the_gram_relation(spark, sf_dir):
    """The overlap gate derives pairs AND per-source totals from ONE
    per-gram source-set relation: after AQE materializes stages, the
    two repeat subtrees must be ReusedExchange nodes (the naive E⋈E
    self-join formulation re-scanned the corpus four times — this
    pins the one-scan shape), and the pair fan-out must be an array
    Generate, never a hash self-join of the gram relation."""
    df = load_all()["cross_source_overlap"].fn(spark, sf_dir)
    df.collect()
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    tree = _tree(df._jdf.queryExecution().explainString(jmode))
    # the executed AQE tree carries both sections; assert on the
    # Final Plan (what actually ran), not the pre-reuse Initial Plan
    tree = tree.split("== Initial Plan ==")[0]
    assert tree.count("ReusedExchange") == 2
    assert tree.count("Scan parquet") == 1
    # both remaining joins are the |sources|-row size broadcasts
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in tree


def test_source_unigram_kl_single_scan(spark, sf_dir):
    """The KL gate folds the corpus token totals INTO the (group,
    token) relation (per-token struct list, bounded by the source
    catalog) instead of joining two aggregates of the same explode:
    the executed plan must read the corpus ONCE, with the group-total
    and corpus-total branches running as ReusedExchange."""
    df = load_all()["source_unigram_kl"].fn(spark, sf_dir)
    df.collect()
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    tree = _tree(df._jdf.queryExecution().explainString(jmode))
    tree = tree.split("== Initial Plan ==")[0]
    assert tree.count("ReusedExchange") == 2
    assert tree.count("Scan parquet") == 1
    assert "SortMergeJoin" not in tree


# --------------------------------------------------------------------
# Round-12 optimization pins.
# --------------------------------------------------------------------


@pytest.mark.parametrize("name", ["join_three_way", "sql_q5_region_revenue"])
def test_fact_fact_preagg_before_exchange(spark, sf_dir, name):
    """r12 (§2.3 aggregate-before-shuffle): lineitem is reduced to one
    row per l_orderkey BEFORE the fact-fact sort-merge exchange — the
    plan must show a HashAggregate keyed by l_orderkey feeding the
    join, and the pre-aggregation must not have added an exchange
    (it reuses the join's: 2 hash exchanges under the SMJ side plus
    the final agg's, same as the un-aggregated plan had)."""
    plan = _plan(spark, sf_dir, name)
    flat = plan.replace(" ", "")
    assert "Keys[1]:[l_orderkey" in flat, f"{name}: lineitem pre-agg lost"
    assert "SortMergeJoin" in plan
    # shuffle-exchange budget unchanged vs the pre-optimization plan
    tree = _tree(plan)
    hash_exchanges = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert hash_exchanges <= (3 if name == "join_three_way" else 5), plan


BOUNDED_SORT_GATES = [
    # gates whose final global order is over a provably bounded
    # aggregate output; r12 converted their orderBy (range exchange +
    # bounds-sampling job) to bounded_sort (coalesce-1 in-partition
    # sort). A reintroduced rangepartitioning is the regression.
    "text_stats",
    "pivot_agg",
    "percentiles",
    "monthly_trend",
    "correlation",
    "approx_percentiles",
    "regression_price_qty",
    "histogram",
    "salted_agg_revenue",
    "bloom_semi_join_revenue",
    "bloom_anti_join_revenue",
    "json_extract_props",
    "split_by_key_buckets",
]


def test_bounded_domain_gates_plan_no_range_exchange(spark, sf_dir):
    for name in BOUNDED_SORT_GATES:
        plan = _plan(spark, sf_dir, name)
        assert "rangepartitioning" not in plan, (
            f"{name}: bounded-domain sort regressed to a range exchange"
        )


def test_weighted_sample_take_ordered_single_scan(spark, sf_dir):
    """The E-S weighted sample is per-row expression work + a fixed-k
    cut: must plan as TakeOrderedAndProject over one scan — never a
    global Sort materialization or an exchange of the corpus."""
    plan = _plan(spark, sf_dir, "weighted_sample_quality")
    tree = _tree(plan)
    assert "TakeOrderedAndProject" in tree
    assert tree.count("Scan parquet") == 1
    assert "Sort " not in tree


# --------------------------------------------------------------------
# Registry-wide plan-SIZE budgets (r12 VERDICT item 5): the two
# worst plans that round — pipeline_e2e at 402 Exchange and
# perplexity_buckets at 158 — were found by hand-survey after each
# had silently re-inlined a multi-referenced sub-plan per reference.
# These ceilings make the next such re-inlining fail a test instead
# of waiting for a survey. Calibrated at sf0.001 (r13: registry max
# 17 Exchange / 476 plan lines; median 2): the ceilings carry ~1.5x
# headroom over today's largest plans, so they flag order-of-magnitude
# re-inlining blowups, not legitimate growth. A gate that must exceed
# them gets an explicit PLAN_SIZE_EXCEPTIONS entry with a reason.
# --------------------------------------------------------------------

GATE_EXCHANGE_CEILING = 26
GATE_PLAN_LINE_CEILING = 750

# name -> (exchange ceiling, plan-line ceiling, reason)
PLAN_SIZE_EXCEPTIONS: dict[str, tuple[int, int, str]] = {}


def _plan_size(df) -> tuple[int, int]:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    tree = plan.split("\n\n")[0]
    n_ex = sum(1 for line in tree.splitlines() if "Exchange" in line)
    return n_ex, len(plan.splitlines())


def test_registry_plan_size_budgets(gate_frames):
    errors: list[str] = []
    offenders: list[str] = []
    for name, df in gate_frames.items():
        if isinstance(df, Exception):
            errors.append(f"{name}: build failed: {df!r}")
            continue
        ex_cap, line_cap, _ = PLAN_SIZE_EXCEPTIONS.get(
            name, (GATE_EXCHANGE_CEILING, GATE_PLAN_LINE_CEILING, "")
        )
        n_ex, n_lines = _plan_size(df)
        if n_ex > ex_cap or n_lines > line_cap:
            offenders.append(
                f"{name}: {n_ex} Exchange / {n_lines} plan lines "
                f"(ceiling {ex_cap}/{line_cap})"
            )
    assert not errors, "\n".join(errors)
    assert not offenders, (
        "plan-size budget exceeded — usually a multi-referenced frame "
        "re-inlining its sub-plan per reference (fix: pin the scored "
        "frame with session.materialize / fold driver-derivable "
        "relations, as r12 did "
        "for pipeline_e2e and perplexity_buckets); if the growth is "
        "legitimate, add a PLAN_SIZE_EXCEPTIONS entry with a reason:\n"
        + "\n".join(offenders)
    )


def test_prod_shape_plan_size_budgets(spark, sf_dir):
    """Same budget gate for the bench prod shapes (not registry
    gates — pipeline_e2e WAS the 402-Exchange offender). Measured at
    sf0.001 post-fold: dedup_minhash_prod 2/77, knn_join_lsh_prod
    2/106, pipeline_e2e 25/623 (its ceiling fails if the selection
    is inlined under pack_sequences and range_shards again)."""
    from shmr_spark.prod_shapes import (
        dedup_minhash_prod,
        knn_join_lsh_prod,
        pipeline_e2e,
    )

    caps = {
        "dedup_minhash_prod": (dedup_minhash_prod, 6, 160),
        "knn_join_lsh_prod": (knn_join_lsh_prod, 6, 220),
        "pipeline_e2e": (pipeline_e2e, 38, 940),
    }
    offenders = []
    for name, (fn, ex_cap, line_cap) in caps.items():
        n_ex, n_lines = _plan_size(fn(spark, sf_dir))
        if n_ex > ex_cap or n_lines > line_cap:
            offenders.append(
                f"{name}: {n_ex} Exchange / {n_lines} lines "
                f"(ceiling {ex_cap}/{line_cap})"
            )
    assert not offenders, "\n".join(offenders)


@pytest.mark.heavy  # ~20 s pipeline build; run via `pytest -m heavy` each round
def test_dsir_pipeline_plan_size_budget(spark, sf_dir):
    """The DSIR-mode pipeline after the r13 fold (1471 -> 583
    Exchange) AND the r13 selection checkpoint (583 -> 25 Exchange,
    7156 -> 608 lines at sf0.001 — the selection pin truncates the
    dsir_logweights lineage Catalyst was re-analyzing per reference).
    Budget pins the post-checkpoint size so neither re-inlining can
    silently return."""
    from pyspark.sql import functions as F

    from shmr_spark.operators.training_pipeline import training_pipeline

    df = training_pipeline(
        spark, sf_dir, n_shards=4, dsir_target=F.col("lang") == "en"
    )
    n_ex, n_lines = _plan_size(df)
    assert n_ex <= 60 and n_lines <= 1200, (
        f"DSIR pipeline plan grew past its budget: {n_ex} "
        f"Exchange / {n_lines} lines (ceiling 60/1200; measured "
        "25/608 at sf0.001 after the r13 selection checkpoint)"
    )
