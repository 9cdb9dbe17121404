"""Gate-output schema rule: every registry query's output columns
must be primitive scalars.

The driver's correctness harness canonicalizes both sides through
pandas before hashing, and pandas representation diverges for complex
types: DuckDB ``.df()`` lowers DECIMAL to float64 and LIST to numpy
arrays, while Spark ``toPandas()`` keeps ``decimal.Decimal`` objects
and Python lists. So a query whose OUTPUT schema contains
ARRAY/MAP/STRUCT (pandas sort crashes: "unhashable type: 'list'") or
DECIMAL (typed hash mismatches on representation even when values are
equal) can never hash-green in the driver gate — it was exactly this
class that produced the only two round-4 reds (``inverted_index``,
``dsum_decimal_overflow``).

Rule codified here (VERDICT round 4, "What's wrong"): complex and
decimal arithmetic stay INTERNAL — ship arrays as sorted joined
strings (``concat_ws`` / ``array_to_string``) and decimals cast to
string (never double: DuckDB's int128→double double-rounds).

The walk reads ``.schema`` off each query's DataFrame. For purely
declarative queries that is plan analysis only — milliseconds. But a
query whose BODY runs driver actions (streaming replays via
run_stream_to_memory, apply_side_effect's foreach, centroid/probe
collects, iterative rounds over pinned frames) executes those
actions just to produce the DataFrame. Those are enumerated in
ACTION_RUNNING below — an exact inventory of which gates run real
work during schema derivation — and every query gets a per-query
watchdog so one hanging or environment-sensitive body fails by NAME
instead of stalling the whole suite silently (round-5 advice)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import types as T

from shmr_spark.queries import load_all

FORBIDDEN = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)

# Queries whose bodies legitimately run driver actions while BUILDING
# their result DataFrame (not merely when the caller acts on it), and
# the action class each runs. Everything else must derive its schema
# via plan analysis only, and every listed gate must run at least one
# job — both ENFORCED below via a per-query job group + statusTracker
# check, on top of the hang watchdog.
ACTION_RUNNING: dict[str, str] = {
    # full Structured Streaming replays to a memory sink
    "streaming_tumbling": "stream replay",
    "streaming_dedup": "stream replay",
    "streaming_enrich": "stream replay",
    "streaming_interval_join": "stream replay",
    "streaming_topk_trending": "stream replay",
    # foreach side-effect contract (reference partition.apply)
    "apply_side_effect": "foreach",
    # bounded collects: centroids / probe rows / footer counts
    "similarity_ivf_topk": "centroid seed collect",
    "similarity_ivf_kmeans_topk": "k-means centroid collects",
    "similarity_ivfpq_topk": "centroid + probe collects",
    "similarity_pq_topk": "1-row probe collect",
    "similarity_indexed_topk": "index build/load + probe collect",
    "similarity_quantized_rerank": "footer count",
    # iterative bodies: per-round actions (pinned frames, counts,
    # 1-row merge winners)
    "dedup_corpus_neardup": "connected-components rounds",
    "dedup_keep_best_quality": "connected-components rounds",
    "pagerank_trade_graph": "power-iteration rounds",
    "triangle_count_trade": "pinned lineage",
    "bpe_encode_counts": "per-merge 1-row winner collects",
    # eager Bloom bitmap build (≤ num_bits/64 rows by construction)
    "bloom_semi_join_revenue": "bounded bitmap collect",
    "bloom_anti_join_revenue": "bounded bitmap collect",
    # minhash banding pins its candidate pairs (session.materialize);
    # building the plan under AQE runs the shuffle stages beneath the
    # pin (the compute is needed exactly once and is reused by every
    # consumer — dedup/minhash.py minhash_candidate_pairs docstring)
    "dedup_minhash": "AQE stage materialization at the candidate pin",
    "leakage_safe_split": "candidate pin + component rounds",
    # r12 optimization: the scored frame is pinned so grouped_ntile's
    # three passes stop re-inlining the bigram-LM sub-plan (158 -> 26
    # Exchange); AQE runs the stages beneath the pin at plan build,
    # same as dedup_minhash above
    "perplexity_buckets": "AQE stage materialization at the LM pin",
    # scatter-write + in-place compaction + bounded (<=3 row) collect;
    # the scratch dir is removed before return so the result must be
    # materialized inside the body (queries/pipeline.py)
    "compact_roundtrip": "compaction roundtrip in a scratch dir",
    # scratch bucketed managed tables + bounded (<200 row) collect
    "bucketed_join_roundtrip": "bucketed-table roundtrip",
    # scratch shmr-format write->read + bounded (<=3 row) collect
    "shmr_datasource_roundtrip": "DataSource roundtrip in a scratch dir",
    # sorted-shard export + bounded (8 row) collect in a scratch dir
    "sorted_shards_roundtrip": "sorted-shard roundtrip",
}

# generous on a loaded machine, small enough that a real hang fails
# this test instead of eating the suite's global timeout
FAST_BUDGET_S = 120
ACTION_BUDGET_S = 300


def _registry():
    return load_all()


@pytest.fixture(scope="module")
def registry():
    return _registry()


def _derive_schema(spec, spark, sf_dir, budget_s):
    """Run spec.fn in a watchdog thread; raise TimeoutError past the
    budget. The hung thread is daemonic and leaks (a stuck Spark
    action cannot be cancelled in-process) — the value is failing BY
    QUERY NAME instead of stalling the sweep.

    The thread also pins a per-query job GROUP (thread-local under
    PySpark's pinned-thread mode) so the caller can ask the
    statusTracker whether the body ran any Spark job at all — the
    round-7 lesson: the watchdog alone only catches HANGS, so a FAST
    unlisted driver action (bloom's eager bitmap collect) slipped
    through the advisory policy. Returns (schema, ran_jobs)."""
    out: dict = {}
    group = f"schema-derivation::{spec.name}"

    def run():
        try:
            spark.sparkContext.setJobGroup(group, "gate schema walk")
            out["schema"] = spec.fn(spark, sf_dir).schema
        except Exception as exc:  # noqa: BLE001 - reported by caller
            out["error"] = exc
        finally:
            spark.sparkContext.setJobGroup("", "")

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(budget_s)
    if t.is_alive():
        raise TimeoutError(f"still running after {budget_s}s")
    if "error" in out:
        raise out["error"]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return out["schema"], bool(jobs)


def _assert_job_group_tracking_works(spark):
    """Fail LOUDLY if the enforcement mechanism itself is inert.

    The stealth-action check rides on ``setJobGroup`` +
    ``getJobIdsForGroup`` attribution from a worker thread. Under
    PySpark's pinned-thread mode (Spark 4 default) the group is
    thread-local; with ``PYSPARK_PIN_THREAD=false`` it degrades to
    process-GLOBAL — verified empirically: attribution still happens
    (the walk is sequential, so at worst a concurrent foreign job is
    over-attributed — loud, not silent). But that behavior is
    version/runtime-dependent, and a future mode where worker-thread
    groups attribute to NOTHING would make every query's job list
    empty and silently restore the advisory behavior round 8
    eliminated. So: before the walk, run a trivial job under a
    sentinel group from a worker thread — the same shape as
    ``_derive_schema`` — and assert the statusTracker attributes it.
    (Same "guard the guard" pattern as
    tests/test_bloom.py::test_session_is_ansi.)"""
    sentinel = "schema-derivation::__selfcheck__"

    def run():
        try:
            spark.sparkContext.setJobGroup(sentinel, "pin-mode selfcheck")
            spark.range(1).count()
        finally:
            spark.sparkContext.setJobGroup("", "")

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(60)
    assert not t.is_alive(), "selfcheck job did not finish in 60s"
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(sentinel)
    assert jobs, (
        "statusTracker did not attribute the selfcheck job to its "
        "thread-local job group — pinned-thread mode is off "
        "(PYSPARK_PIN_THREAD?), so the stealth-action enforcement "
        "below would be INERT. Refusing to run the walk blind."
    )


def test_all_gate_outputs_are_primitive_scalars(spark, sf_dir, registry):
    # Pre-warm the per-session table cache: the FIRST spark.read of
    # each parquet table runs a footer/schema-inference job, which
    # would otherwise be charged to whichever query happens to touch
    # that table first in walk order — the job check below must
    # measure query-BODY actions only.
    from shmr_spark.catalog import load_tables

    load_tables(spark, sf_dir)

    # Guard the guard: verify job-group attribution actually works in
    # this environment before trusting zero-job results below.
    _assert_job_group_tracking_works(spark)

    violations: list[str] = []
    errors: list[str] = []
    stealth_actions: list[str] = []
    idle_listed = sorted(set(ACTION_RUNNING) - set(registry))
    for name, spec in registry.items():
        budget = ACTION_BUDGET_S if name in ACTION_RUNNING else FAST_BUDGET_S
        try:
            schema, ran_jobs = _derive_schema(spec, spark, sf_dir, budget)
            if ran_jobs and name not in ACTION_RUNNING:
                stealth_actions.append(name)
            if not ran_jobs and name in ACTION_RUNNING:
                idle_listed.append(name)
        except TimeoutError as exc:
            hint = (
                f"(allowlisted: {ACTION_RUNNING[name]})"
                if name in ACTION_RUNNING
                else "(NOT allowlisted — if it legitimately runs driver "
                "actions, add it to ACTION_RUNNING with a reason)"
            )
            errors.append(f"{name}: {exc} {hint}")
            continue
        except Exception as exc:  # noqa: BLE001 - report, don't mask the sweep
            errors.append(f"{name}: schema derivation failed: {exc!r}")
            continue
        for field in schema.fields:
            if isinstance(field.dataType, FORBIDDEN):
                violations.append(
                    f"{name}.{field.name}: {field.dataType.simpleString()}"
                )
    assert not errors, "\n".join(errors)
    assert not stealth_actions, (
        "queries ran Spark jobs during schema derivation without an "
        "ACTION_RUNNING entry (the policy is enforced, not advisory — "
        "either remove the action or list it with a reason): "
        + ", ".join(stealth_actions)
    )
    assert not idle_listed, (
        "ACTION_RUNNING lists queries that are not registered or ran no "
        "Spark job during schema derivation (the inventory is exact — "
        "drop the stale entries): " + ", ".join(idle_listed)
    )
    assert not violations, (
        "gate outputs must be primitive scalars (driver harness cannot "
        "hash DECIMAL/ARRAY/MAP/STRUCT through pandas):\n"
        + "\n".join(violations)
    )


def test_priority_window_is_exactly_the_driver_budget():
    """The driver records the FIRST 50 registered queries; _PRIORITY
    is that window. A short window wastes verification slots, a long
    one silently pushes its own tail out of the budget, a duplicate
    burns a slot on a query already recorded, and a renamed/typo'd
    name would shift every slot after it — all four drift modes fail
    here by name instead of being discovered in the next round's
    CORRECTNESS file (load_all() raises on unknown names, and the
    first-50 assertion pins that the ordering actually lands the
    window in the budget)."""
    from shmr_spark.queries import _PRIORITY, load_all

    assert len(_PRIORITY) == 50, f"window is {len(_PRIORITY)}, budget is 50"
    assert len(set(_PRIORITY)) == 50, "duplicate names in _PRIORITY"
    ordered = load_all()  # KeyError here = a _PRIORITY name left the registry
    assert list(ordered)[:50] == _PRIORITY, (
        "the first 50 registered queries are not the _PRIORITY window"
    )
