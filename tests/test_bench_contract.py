"""bench.py output contract — the regression net for the r8 defect.

Round 8 printed ONE stdout line containing the full result (per-query
shuffle-byte maps at two scales included); the driver keeps only a
~2000-char stdout tail, the headline "value" fell off the front, and
BENCH_r08.json recorded "parsed": null — a round that measured more
than any prior round reported nothing machine-readable. The contract
since round 9: the LAST line is ``compact_summary(result)`` and its
serialized length is bounded here against the REAL registry's
headline + scale-extra sets, so adding a query to either set cannot
silently re-break the driver record.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from bench import compact_summary, scale_extra_rows  # noqa: E402
from shmr_spark.queries import load_all  # noqa: E402

# the driver's capture window is ~2000 chars of stdout tail; the final
# line must fit with margin even after a trailing newline and any
# incidental short line the runtime appends
LINE_BUDGET = 1800


def _largest_realistic_result() -> dict:
    registry = load_all()
    headline = sorted(n for n, s in registry.items() if s.headline)
    assert headline, "registry lost its headline set"
    # worst-case magnitudes: three-digit seconds with three decimals
    timings = {n: 999.999 for n in headline}
    # Synthetic stand-ins for bench.scale_extra_rows' row names: one
    # more name than it returns, each longer than its longest. They pad
    # only fields compact_summary DROPS (scale_check's per-query maps),
    # so they cannot move the tested line length today; if the compact
    # shape ever carries per-extra fields, the bound already covers a
    # larger extras set than bench has.
    real = scale_extra_rows(registry, {})
    width = max(map(len, real)) + 1
    synthetic = [
        f"synthetic_extra_{i:02d}_".ljust(width, "x") for i in range(len(real) + 1)
    ]
    extras = {n: 9999.999 for n in headline + synthetic}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # r12: per-query medians + the machine-load sentinel bracket
        # are part of the compact line now — worst-case magnitudes
        "medians": dict(timings),
        "sentinel": {
            "before": {"median": 999.999, "min": 999.999},
            "after": {"median": 999.999, "min": 999.999},
        },
        "sf": 0.1,
        "shuffle_bytes": {n: {"read": 2**40, "write": 2**40} for n in headline},
        "scale_check": {
            "sf": 1.0,
            "value": 99999.999,
            "extras_value": 99999.999,
            "queries": extras,
            "extra_base": extras,
            "corpus_build_sec": 999.999,
            "shuffle_bytes": {
                n: {"read": 2**40, "write": 2**40} for n in headline
            },
            "extras_shuffle_bytes": {"base": None, "sf1": None},
            "minhash_pairs": {"base": {}, "sf1": {}},
        },
    }


def test_compact_line_length_bound():
    line = json.dumps(compact_summary(_largest_realistic_result()))
    assert len(line) < LINE_BUDGET, (
        f"compact bench line is {len(line)} chars (budget {LINE_BUDGET}) — "
        "the driver's stdout tail will truncate it; trim the headline set "
        "or move a field to BENCH_DETAIL.json"
    )


def test_compact_line_is_single_line_and_parseable():
    line = json.dumps(compact_summary(_largest_realistic_result()))
    assert "\n" not in line
    parsed = json.loads(line)
    # the driver contract fields, exactly
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed
    assert parsed["detail"] == "BENCH_DETAIL.json"
    assert parsed["scale_value"] == 99999.999
    assert parsed["extras_value"] == 99999.999


def test_compact_summary_drops_bulky_payloads():
    """The fields that broke r8 must never reach the final line."""
    compact = compact_summary(_largest_realistic_result())
    assert "shuffle_bytes" not in compact
    assert "scale_check" not in compact
    flat = json.dumps(compact)
    assert "extras_shuffle_bytes" not in flat
    assert "minhash_pairs" not in flat


def test_compact_summary_without_scale_check():
    """SPARK_GRAFT_SCALE_CHECK=0 runs produce a result with no
    scale_check key — the compact line must still be the contract
    shape, just without the scale roll-ups."""
    result = _largest_realistic_result()
    del result["scale_check"]
    compact = compact_summary(result)
    assert "scale_value" not in compact
    assert compact["value"] == result["value"]


def test_scale_extra_row_names():
    """The scale check's extra rows, pinned by name: 11 registry gates,
    3 batch prod shapes and 4 streaming replays. Building the map
    starts no Spark session."""
    assert sorted(scale_extra_rows(load_all(), {})) == [
        "dedup_minhash_prod",
        "duplicate_spans",
        "heavy_hitters_tokens",
        "knn_join_lsh_prod",
        "nb_lang_classifier",
        "nb_target_select",
        "perplexity_buckets",
        "pipeline_e2e",
        "q21_single_fault_suppliers",
        "q9_profit_by_nation",
        "rollup_incremental",
        "sessionize",
        "sessionize_stream",
        "sessionize_stream_per_file",
        "similarity_indexed_topk",
        "streaming_tumbling",
        "streaming_tumbling_per_file",
        "streaming_tumbling_per_file_s8",
    ]
