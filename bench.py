"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. The LAST stdout line is a compact JSON
summary the driver parses:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...},
   "medians": {...}, "sentinel": {"before": ..., "after": ...},
   "sf": ..., "scale_value": N, "extras_value": N,
   "detail": "BENCH_DETAIL.json"}
"value" is the sum of per-query MINIMA over five repetitions (the
round-comparable metric); "medians" and the fixed-workload machine-
load "sentinel" bracket (timed before and after the headline loop)
quantify the box's weather inside the artifact itself — the driver
headline swung ±20% on identical code two rounds running.
The full result — per-query shuffle-byte maps, 10x extras, pair
counts — goes to BENCH_DETAIL.json and an earlier stdout line. (The
driver keeps only a ~2000-char stdout TAIL; round 8 printed one
everything-included line that outgrew it and the round recorded
"parsed": null. tests/test_bench_contract.py pins the final line's
length bound against the real registry.)

Timing is end-to-end per query (plan + execute) with a JVM-side noop
sink — no rows cross to Python, so this measures the engine, not
py4j serialization. All timed loops run BEFORE any untimed
instrumentation pass (the r8 10x extras drifted +15-60% purely from
sharing a session with interleaved cache-clearing byte-accounting
passes).

Scale check: after the contract run, the same headline set executes
once against a derived sf1-equivalent corpus (10× sf0.1 with
FK-preserving key offsets, built and cached by tools/make_scaled_sf.py
under .scaled/) to catch plans that only behave at sf0.1 — broadcast
thresholds, AQE switches, skew. Reported under the "scale_check" key
of the same JSON line. Disable with SPARK_GRAFT_SCALE_CHECK=0.

Shuffle-byte accounting: each headline query's shuffle read/write
bytes are recorded (untimed passes) at BOTH scales under
"shuffle_bytes" — local wall time cannot see a plan that shuffles
bytes it doesn't need (the cost only appears on a real network), but
the byte ratio across the 10× corpus can: ~10× growth is linear and
healthy. A superlinear ratio is a FINDING to explain, not
automatically a regression — it can be a broadcast→shuffle regime
boundary where AQE correctly stops broadcasting a side that grew
past the threshold (q3_top_orders crosses exactly this boundary
between sf0.1 and the 10× corpus: BHJ+BHJ → BHJ+SMJ, measured in
SCALING.md); confirm by diffing the executed join strategies before
treating it as a plan defect.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from shmr_spark import get_spark  # noqa: E402
from shmr_spark.prod_shapes import PROD_SHAPES, SCALE_EXTRA_GATES  # noqa: E402
from shmr_spark.queries import load_all  # noqa: E402


def _staged_events(staged: dict, key, sf_dir: str, prefix: str) -> str:
    """A copy of ``sf_dir``'s events for a stream to replay, made once
    per ``key`` and kept in ``staged``: copying grows with corpus size
    and would otherwise inflate every timed repetition with file I/O
    that is not engine work."""
    import tempfile

    from shmr_spark.queries.analytics import stage_events_copy

    d = staged.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix=prefix)
        stage_events_copy(sf_dir, d)
        staged[key] = d
    return d


def _sessionize_stream(staged: dict, spark, sf_dir, **stream_kw):
    """The STATEFUL sessionizer (applyInPandasWithState) replayed to
    completion over the corpus's events — the Python-state path whose
    scale behavior can't be inferred from the batch window variant."""
    from pyspark.sql import functions as F

    from shmr_spark.streaming import read_events_stream, sessionize_stream

    d = _staged_events(staged, sf_dir, sf_dir, "shmr_bench_sess_")
    q = (
        sessionize_stream(read_events_stream(spark, d, **stream_kw))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("bench_sessionize_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.sql("SELECT * FROM bench_sessionize_stream")
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
    )


def _tumbling_per_file(staged: dict, state_partitions, spark, sf_dir):
    """The tumbling-window replay with one micro-batch per input file:
    its sf1/base wall ratio reads trigger count (8 files at sf1), not
    rows, so it isolates the per-trigger fixed cost."""
    from shmr_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        tumbling_window_stream,
    )

    tag = "per_file" if state_partitions is None else f"per_file_s{state_partitions}"
    d = _staged_events(staged, (tag, sf_dir), sf_dir, f"shmr_bench_tumb_{tag}_")
    return run_stream_to_memory(
        tumbling_window_stream(
            read_events_stream(spark, d, max_files_per_trigger=1)
        ),
        f"bench_tumbling_{tag}",
        output_mode="complete",
        state_partitions=state_partitions,
    )


def scale_extra_rows(registry: dict, staged: dict) -> dict:
    """Row name → ``fn(spark, sf_dir)`` for the scale check's extra rows:
    the SCALE_EXTRA_GATES, the batch PROD_SHAPES and four streaming
    replays. ``staged`` caches the replays' event copies.

    The extras are costlier than the relational headliners, so they stay
    out of the sf0.1 headline total (which tracks round-over-round
    regressions) but get base timings. Reading dedup_minhash_prod's and
    duplicate_spans' scale ratios: make_scaled replicates document TEXTS
    verbatim n×, so true near-dup pairs grow ~n² per cluster — at n=10
    the verify stage does ~100× the pair work, and a ~5× wall time is
    strongly sublinear in actual work, not superlinear in rows.

    Since round 6 the engine default batches up to 64 files per trigger
    (read_events_stream), so sessionize_stream and the registry's
    streaming_tumbling read rows, not trigger count. The *_per_file rows
    keep the per-trigger fixed cost (state-store commit + batch planning,
    ~0.9 s each) measured as the explicitly-degenerate framing; the _s8
    row pins the state-partition count to 8 (streaming/tuning.py: 32
    state-store commits per trigger -> 8; interleaved A/B median trigger
    1430 -> 559 ms at the 10x corpus), so the option's effect is
    recorded beside the untuned row."""
    rows = {n: registry[n].fn for n in SCALE_EXTRA_GATES}
    rows.update(PROD_SHAPES)
    rows["sessionize_stream"] = partial(_sessionize_stream, staged)
    rows["sessionize_stream_per_file"] = partial(
        _sessionize_stream, staged, max_files_per_trigger=1
    )
    rows["streaming_tumbling_per_file"] = partial(_tumbling_per_file, staged, None)
    rows["streaming_tumbling_per_file_s8"] = partial(_tumbling_per_file, staged, 8)
    return rows


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="shmr_spark_bench")

    registry = load_all()
    headline = {n: s.fn for n, s in registry.items() if s.headline}

    # pair counts alongside the wall time (untimed pass): the ~5×
    # wall at 10× rows is only interpretable against the ~100× growth
    # in true pair work — recording candidate + verified pairs makes
    # that denominator part of the bench record, so a regression in
    # banding selectivity (candidates exploding while verified stays
    # put) can no longer hide inside "expected superlinearity".
    def _minhash_pair_counts(spark, d):
        from shmr_spark.catalog import load_table
        from shmr_spark.dedup.minhash import (
            minhash_candidate_pairs,
            verify_jaccard_pairs,
        )

        docs = load_table(spark, d, "documents")
        # one banding pass feeds BOTH counts: the candidate frame is
        # lineage-pinned inside minhash_candidate_pairs, so the
        # verify join reuses it instead of recomputing the
        # shingle→signature→band pipeline
        sh, cands = minhash_candidate_pairs(docs)
        candidates = cands.count()
        verified = verify_jaccard_pairs(sh, cands, 0.7).count()
        return {"candidate_pairs": candidates, "verified_pairs": verified}

    # every staged event copy is removed at process exit — these are
    # corpus-sized copies that would otherwise accumulate in /tmp
    # across bench runs
    import atexit
    import shutil

    staged: dict = {}
    atexit.register(
        lambda: [shutil.rmtree(d, ignore_errors=True) for d in staged.values()]
    )
    scale_extra = scale_extra_rows(registry, staged)

    # Warmup pass (untimed): JVM JIT + whole-stage codegen compilation
    # + parquet footer caches. The timed pass then measures engine
    # throughput, not cold-start — standard steady-state methodology;
    # on a long-lived cluster the JVM is warm.
    for name, fn in sorted(headline.items()):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Machine-load SENTINEL (r11 verdict task 2): a fixed calibration
    # workload — corpus-independent, registry-independent, pure
    # JVM-side codegen (range → sum), no I/O — timed immediately
    # before and immediately after the headline loop. The driver
    # headline swung ±20% across rounds on identical code (documented
    # 2.6x same-plan spread); the sentinel puts a number on the
    # machine weather INSIDE the artifact: compare sentinel medians
    # across rounds to separate "the box was slow" from "the plan got
    # slower". ~0.5 s per rep so five reps cost ~2.5 s per bracket.
    def _sentinel_time() -> float:
        t0 = time.perf_counter()
        spark.range(0, 600_000_000, 1, 32).selectExpr(
            "sum(id * 7 + 3) AS s"
        ).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    import statistics

    def _sentinel_bracket() -> dict:
        _sentinel_time()  # warm the codegen for this exact plan
        reps = [_sentinel_time() for _ in range(5)]
        return {
            "median": round(statistics.median(reps), 3),
            "min": min(reps),
        }

    sentinel_before = _sentinel_bracket()

    # Shuffle-byte accounting helpers (UNTIMED passes — and, since
    # round 9, run strictly AFTER every timed loop in the session: r8
    # interleaved these cache-clearing re-execution passes between the
    # timed loops and the 10x extras drifted +15-60% with flat/linear
    # shuffle bytes, i.e. the instrument contaminated the measurement
    # it shared a session with). Wall time at one scale cannot see a
    # plan that starts shuffling 10x the bytes it needs — the
    # regression only costs wall on a real network. The bracketing
    # status-store reads live in shmr_spark.metrics (shared with
    # tests/test_scaling.py, which pins byte-ratio linearity in the
    # suite).
    from shmr_spark.metrics import noop_sink, shuffle_bytes_of

    def _shuffle_pass(fns, d) -> dict[str, dict[str, int]] | None:
        out: dict[str, dict[str, int]] = {}
        for name, fn in sorted(fns.items()):
            out[name] = shuffle_bytes_of(spark, lambda: noop_sink(fn(spark, d)))
        # guard the instrument: the headline set always contains
        # queries that genuinely shuffle (join_three_way, q5), so an
        # all-zero pass means the status-store read broke (API drift,
        # lagging listener bus) — record None, never a fake zero that
        # would read as "this plan stopped shuffling" round-over-round
        if not any(v["read"] or v["write"] for v in out.values()):
            return None
        return out

    # ---- TIMED SECTION: every timed loop runs before any untimed
    # instrumentation pass (shuffle-byte accounting, pair counting) so
    # the instrument's cache clears / re-executions cannot poison the
    # min-of-N via GC and page-cache pressure (the r8 lesson).

    # five timed repetitions per query (r11 verdict task 2 raised it
    # from three): the headline "value" stays the per-query MIN sum —
    # the round-over-round comparable metric since r1, and the most
    # weather-robust point estimate — and the per-query MEDIANS ride
    # alongside so a sustained-load round (where even the min drifts)
    # is distinguishable from a one-off stall (min fine, median up)
    reps: dict[str, list[float]] = {n: [] for n in headline}
    for _ in range(5):
        for name, fn in sorted(headline.items()):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            reps[name].append(round(time.perf_counter() - t0, 3))

    sentinel_after = _sentinel_bracket()

    timings = {n: min(ts) for n, ts in reps.items()}
    medians = {n: round(statistics.median(ts), 3) for n, ts in reps.items()}
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "medians": medians,
        # before/after bracket: a large after/before delta means the
        # box's load CHANGED during the run — the per-query numbers
        # then carry that spread, whatever the plans did
        "sentinel": {"before": sentinel_before, "after": sentinel_after},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    scale_on = os.environ.get("SPARK_GRAFT_SCALE_CHECK", "1") != "0"
    scaled_dir = os.path.join(REPO, ".scaled", "sf1")
    build_s = None
    extra_base: dict[str, float] = {}
    big: dict[str, float] = {}
    if scale_on:
        from tools.make_scaled_sf import make_scaled

        t0 = time.perf_counter()
        make_scaled(spark, 10, sf_dir, scaled_dir)
        build_s = round(time.perf_counter() - t0, 3)

        # base (sf0.1) timings for the extras, so the 10x ratio is
        # computable for them too (headliners' base times are in
        # result["queries"])
        for _ in range(2):
            for name, fn in sorted(scale_extra.items()):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 3)
                extra_base[name] = min(extra_base.get(name, dt), dt)

        # release the sf0.1 pipeline's survivor cache before the 10x
        # phase: a pipeline call releases only its own (session,
        # corpus, params) slot, so the base-corpus cache would
        # otherwise sit in MEMORY_AND_DISK for the whole scaled pass
        # with zero reuse. (Each repeat on one corpus releases the
        # previous call's cache first, so every timed rep is cold.)
        from shmr_spark.operators.training_pipeline import clear_pipeline_caches

        clear_pipeline_caches()

        timed = {**headline, **scale_extra}
        for _ in range(2):
            for name, fn in sorted(timed.items()):
                t0 = time.perf_counter()
                fn(spark, scaled_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.perf_counter() - t0, 3)
                big[name] = min(big.get(name, dt), dt)

    # ---- UNTIMED SECTION: instrumentation passes. Everything below
    # re-executes plans for metrics, never for wall-clock numbers.

    result["shuffle_bytes"] = _shuffle_pass(headline, sf_dir)

    if scale_on:
        shuffle_extras = {
            n: fn
            for n, fn in scale_extra.items()
            if n in PROD_SHAPES or SCALE_EXTRA_GATES.get(n)
        }

        def _extras_shuffle(d) -> dict[str, dict[str, int]] | None:
            # a pipeline_e2e call releases its slot's previous cache
            # before persisting, so both passes measure the cold plan;
            # the clear also drops the other corpus's survivor cache
            # for the duration of the pass
            clear_pipeline_caches()
            return _shuffle_pass(shuffle_extras, d)

        result["scale_check"] = {
            "sf": 1.0,
            "minhash_pairs": {
                "base": _minhash_pair_counts(spark, sf_dir),
                "sf1": _minhash_pair_counts(spark, scaled_dir),
            },
            # value stays headline-only so the 10x ratio vs
            # result["value"] (and vs earlier rounds' records) compares
            # like with like; the extras report separately
            "value": round(sum(v for n, v in big.items() if n in headline), 3),
            "queries": big,
            "extras_value": round(
                sum(v for n, v in big.items() if n in scale_extra), 3
            ),
            "extra_base": extra_base,
            "corpus_build_sec": build_s,
            # headline shuffle bytes at 10x: the ratio vs the base
            # result["shuffle_bytes"] is the scale story wall time
            # can't tell — a shuffle growing ~10x at 10x rows is
            # linear (good); superlinear growth is a plan regression
            # even if local wall looks flat
            "shuffle_bytes": _shuffle_pass(headline, scaled_dir),
            # and for the heaviest batch extras (the LLM-pipeline
            # flagships) at both scales — streaming/staging extras
            # excluded: their job streams interleave staging copies
            # and micro-batch planning, so an app-total delta would
            # not isolate the query's own exchange
            "extras_shuffle_bytes": {
                "base": _extras_shuffle(sf_dir),
                "sf1": _extras_shuffle(scaled_dir),
            },
        }

    # Output contract (the r8 lesson — BENCH_r08.json came back
    # "parsed": null): the driver keeps only a bounded tail of stdout
    # and parses the LAST line, so the full result (with per-query
    # shuffle-byte detail, which outgrew that tail in r8) goes to
    # BENCH_DETAIL.json and an EARLY stdout line, and the final line
    # is a compact summary with a tested length bound
    # (tests/test_bench_contract.py).
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps(result))
    print(json.dumps(compact_summary(result)))


def compact_summary(result: dict) -> dict:
    """The driver-facing final stdout line: headline metric + per-query
    timings + scalar scale-check roll-ups, NO per-query byte maps.
    Length-bounded by test against the real registry's headline set —
    must stay well under the driver's ~2000-char stdout tail capture."""
    out = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "queries": result["queries"],
        "detail": "BENCH_DETAIL.json",
    }
    # per-query medians + the machine-load sentinel bracket (r11
    # verdict task 2): both must reach the driver-recorded artifact,
    # not just BENCH_DETAIL.json, so the graded number carries its
    # own weather context
    if "medians" in result:
        out["medians"] = result["medians"]
    if "sentinel" in result:
        out["sentinel"] = result["sentinel"]
    sc = result.get("scale_check")
    if sc:
        out["scale_value"] = sc["value"]
        out["extras_value"] = sc["extras_value"]
    return out


if __name__ == "__main__":
    main()
