"""Unit tests for the parity sweep's verdicts, retry plumbing and
artifact shape (tools/check_parity.py) — no Spark session. The
process tests spawn a worker that never reaches Spark: it is killed at
the cap first, or fails its registry lookup.

The round-12 advice finding: a single-gate retry that crashes before
giving any verdict used to leave the gate's PREVIOUS entry in place,
so the artifact kept a stale detail (e.g. "chunk N exceeded wall")
that misattributed what actually happened on the retry. The retry now
writes a fresh FAIL naming the no-verdict exit.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from tools import check_parity  # noqa: E402

HUGEINT_SUM = "SELECT SUM(x) AS s FROM (VALUES (1),(2)) v(x)"


def _fake_run(verdict):
    return lambda sf_dir, names, timeout_s: {n: dict(verdict) for n in names}


def test_all_verdict_forms():
    gates = {
        "alpha": {"status": "hash-match", "rows": 123},
        "beta": {"status": "rows-only", "rows": 7},
        "gamma": {"status": "FAIL", "detail": "first differing row " + "x" * 400},
    }
    lines = [check_parity._line(n, g) for n, g in gates.items()]
    assert lines == [
        "ok   alpha: 123 rows hash-match",
        "ok   beta: rows-only (7 rows)",
        "FAIL gamma: first differing row " + "x" * 400,
    ]
    art = check_parity.artifact(
        "parity_sweep", "/sf", list(gates), gates, [], "note"
    )
    assert art["gates"]["alpha"] == {"rows": 123, "status": "hash-match"}
    assert art["gates"]["beta"] == {"rows": 7, "status": "rows-only"}
    assert art["gates"]["gamma"]["status"] == "FAIL"
    assert len(art["gates"]["gamma"]["detail"]) == 300
    assert (art["gates_total"], art["hash_matched"], art["failures"]) == (3, 1, 1)


def test_retry_overwrites_with_fresh_verdict(monkeypatch):
    gates = {
        "alpha": {"status": "FAIL", "detail": "chunk 3 exceeded 2400s wall"},
    }
    monkeypatch.setattr(
        check_parity, "run_isolated", _fake_run({"status": "hash-match", "rows": 55})
    )
    retried = check_parity.sweep("/nonexistent", gates, [], ["alpha"])
    assert retried == ["alpha"]
    assert gates["alpha"] == {"rows": 55, "status": "hash-match"}


def test_retry_no_verdict_writes_fresh_fail():
    """A retry whose process exits without a verdict must NOT keep the
    stale chunk-timeout detail — the artifact records what the retry
    actually did (nothing). "alpha" is not registered, so the worker
    exits on its registry lookup."""
    stale = {"status": "FAIL", "detail": "chunk 9 exceeded 2400s wall"}
    gates = {"alpha": dict(stale)}
    check_parity.sweep("/nonexistent", gates, [], ["alpha"])
    assert gates["alpha"]["status"] == "FAIL"
    assert "exited with code 1 before a verdict" in gates["alpha"]["detail"]
    assert "chunk 9" not in gates["alpha"]["detail"]


def test_retry_timeout_keeps_synthesized_fail(monkeypatch):
    """A retry that hits its wall cap records a FAIL naming the cap,
    not the previous entry."""
    gates = {"alpha": {"status": "FAIL", "detail": "chunk 1 exceeded"}}
    monkeypatch.setattr(check_parity, "RETRY_TIMEOUT_S", 0)
    check_parity.sweep("/nonexistent", gates, [], ["alpha"])
    assert gates["alpha"] == {
        "status": "FAIL",
        "detail": "no verdict within the 0s wall cap",
    }


def test_prune_stale_drops_unregistered_entries(monkeypatch):
    """A renamed/removed gate's artifact entry must be pruned, not
    retried — a retry of a nonexistent gate can never produce a
    verdict, so a stale FAIL would wedge the artifact permanently
    (r12 review finding). The registered gate the artifact lacks is
    swept in."""
    monkeypatch.setattr(
        check_parity, "run_isolated", _fake_run({"status": "hash-match", "rows": 1})
    )
    result = check_parity.artifact(
        "parity_sf1",
        "/sf",
        ["alpha", "renamed_away", "beta"],
        {
            "alpha": {"status": "hash-match", "rows": 3},
            "renamed_away": {"status": "FAIL", "detail": "chunk 2 exceeded"},
            "beta": {"status": "rows-only", "rows": 9},
        },
        ["renamed_away"],
        "note",
    )
    out = check_parity.retry(result, ["alpha", "beta", "gamma"])
    assert set(out["gates"]) == {"alpha", "beta", "gamma"}
    assert out["gates"]["beta"] == {"status": "rows-only", "rows": 9}
    assert out["retried"] == []
    assert (out["gates_total"], out["failures"], out["missing"]) == (3, 0, [])


def test_describe_flags_hugeint_oracle():
    con = duckdb.connect()
    assert check_parity.bad_types(con, HUGEINT_SUM) == [("s", "HUGEINT")]
    cast = "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1),(2)) v(x)"
    assert check_parity.bad_types(con, cast) == []


def test_artifact_keys_match_committed_artifacts():
    gates = {"alpha": {"status": "hash-match", "rows": 3}}
    for metric, path in (
        ("parity_sweep", "PARITY_SF01.json"),
        ("parity_sf1", "PARITY_SF1.json"),
    ):
        committed = json.loads((REPO / path).read_text())
        art = check_parity.artifact(metric, "/sf", ["alpha"], gates, [], "note")
        assert list(art) == list(committed), path
        assert set(art["gates"]["alpha"]) == set(
            next(iter(committed["gates"].values()))
        )
