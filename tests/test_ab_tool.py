"""Unit tests for tools/ab.py: the verdict rule on synthetic pair
lists, and the run loop with the benchmark run stubbed out — no Spark,
no benchmark runs."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from tools import ab  # noqa: E402

PARENT = [0.55, 0.56, 0.54, 0.57, 0.55, 0.56, 0.55, 0.54, 0.56, 0.55]


def _pairs(change):
    return list(zip(PARENT, change))


def test_gain_needs_nine_of_ten_wins_and_a_gap_past_the_parent_iqr():
    faster = [p - 0.08 for p in PARENT]
    v = ab.verdict(_pairs(faster), "lower", 0.25)
    assert (v["verdict"], v["wins"], v["pairs"]) == ("gain", 10, 10)
    # one loss still leaves 9 of 10
    assert ab.verdict(_pairs(faster[:9] + [0.60]), "lower", 0.25)["verdict"] == "gain"
    # two losses do not
    assert ab.verdict(_pairs(faster[:8] + [0.60, 0.60]), "lower", 0.25)["verdict"] == "neutral"


def test_ties_count_for_neither_side():
    change = [p - 0.08 for p in PARENT[:9]] + [PARENT[9]]
    v = ab.verdict(_pairs(change), "lower", 0.25)
    assert (v["wins"], v["losses"], v["verdict"]) == (9, 0, "gain")
    change = [p - 0.08 for p in PARENT[:8]] + PARENT[8:]
    assert ab.verdict(_pairs(change), "lower", 0.25)["verdict"] == "neutral"


def test_every_win_by_less_than_the_iqr_is_neutral():
    iqr = ab.quartiles(PARENT)["iqr"]
    assert iqr > 0
    v = ab.verdict(_pairs([p - iqr / 4 for p in PARENT]), "lower", 0.25)
    assert (v["wins"], v["verdict"]) == (10, "neutral")


def test_higher_is_better_metrics_flip_the_sign():
    v = ab.verdict(_pairs([p + 0.1 for p in PARENT]), "higher", 0.25)
    assert v["verdict"] == "gain"
    assert ab.verdict(_pairs([p + 0.1 for p in PARENT]), "lower", 0.25)["verdict"] == "loss"


def test_parent_spread_wider_than_the_bound_is_unresolved():
    wide = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
    change = [1.5] * 10
    v = ab.verdict(list(zip(wide, change)), "lower", 0.25)
    assert v["parent"]["iqr"] > 0.25 * v["parent"]["median"]
    assert v["verdict"] == "unresolved"


def test_quartiles_are_inclusive():
    q = ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q["q1"], q["median"], q["q3"], q["iqr"]) == (2.0, 3.0, 4.0, 2.0)
    assert ab.quartiles([7.0])["iqr"] == 0


def test_summary_checks_exact_counts_and_skips_runs_without_result():
    def run(p_jobs, c_jobs, p_s, c_s):
        side = lambda jobs, s: {"metrics": {"exec.jobs": jobs, "job_p50_s": s}}  # noqa: E731
        return {"parent": side(p_jobs, p_s), "change": side(c_jobs, c_s)}

    runs = [run(4, 4, 0.55, 0.45), run(4, 4, 0.56, 0.46), {"parent": {"error": "x"}, "change": {}}]
    out = ab.summarize(runs, {"job_p50_s": ("lower", 0.25)})
    assert out["exec.jobs"]["exact"] and out["exec.jobs"]["values"] == {"parent": [4], "change": [4]}
    assert out["job_p50_s"]["pairs"] == 2 and "verdict" in out["job_p50_s"]
    runs.append(run(5, 4, 0.5, 0.5))
    assert not ab.summarize(runs, {})["exec.jobs"]["exact"]


@pytest.mark.skipif(not (REPO / ".git").exists(), reason="exports revisions with git")
def test_main_alternates_sides_and_removes_its_copies(tmp_path, monkeypatch):
    order = []

    def fake_run(copy, args):
        side = "parent" if copy.endswith("parent") else "change"
        order.append(side)
        assert os.path.isfile(os.path.join(copy, "perfbench", "run.py"))
        s = 0.55 if side == "parent" else 0.45
        return {"attempted": 3, "failed": 0, "metrics": {"job_p50_s": s + 0.001 * len(order)}}

    monkeypatch.setattr(ab, "run_once", fake_run)
    out, work = tmp_path / "ab.json", tmp_path / "work"
    ab.main(["HEAD", "HEAD", "--workload", "w", "--pairs", "4", "--out", str(out), "--work", str(work)])
    assert order == ["parent", "change", "change", "parent"] * 2
    report = json.loads(out.read_text())
    assert report["seconds"] == json.loads((REPO / "BENCHMARK.json").read_text())["run_seconds"]
    assert report["operations"]["change"] == {"attempted": 12, "failed": 0, "runs_without_result": 0}
    assert report["summary"]["job_p50_s"]["verdict"] == "gain"
    assert os.listdir(work) == []
