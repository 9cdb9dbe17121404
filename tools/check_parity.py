"""Local replica of the driver's correctness gate: run every registry
query on Spark and its oracle on DuckDB over the same sf dir, compare
row count + column names + order-insensitive values, and give one
verdict per query, with a value-level diff on mismatch.

Usage:
    python tools/check_parity.py [sf_dir] [query ...]
    python tools/check_parity.py [sf_dir] [query ...] --artifact PATH
    python tools/check_parity.py --artifact PATH --retry

The first form prints one line per gate and then ``N failures``.
``--artifact`` sweeps the registry (or the named queries) in chunks,
each in its own process under a wall cap, re-runs every failed gate
alone, and writes the verdicts to PATH as JSON (the PARITY_SF01.json
and PARITY_SF1.json format). ``--retry`` resumes the artifact at PATH
on the sf dir it records: it drops gates that are no longer
registered, re-runs each FAIL alone and sweeps in the registered
gates it lacks.
"""

from __future__ import annotations

import argparse
import json
import math
import multiprocessing
import os
import queue
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from shmr_spark import get_spark  # noqa: E402
from shmr_spark.catalog import TABLES  # noqa: E402
from shmr_spark.queries import load_all  # noqa: E402

# An sf1 oracle can take minutes, so the sweep runs a few gates per
# process: a hang then costs one chunk and names its gates, and a
# chunk that hits the cap leaves its stragglers to the single-gate
# retry with its longer cap.
CHUNK_SIZE = 8
CHUNK_TIMEOUT_S = 2400
RETRY_TIMEOUT_S = 3600

# DuckDB result types Spark cannot emit. DuckDB widens un-cast integer
# aggregates (SUM over ints, count_if) to HUGEINT, and the external
# gate's typed value-hash then mismatches Spark's BIGINT even when the
# values are equal; the Python-value comparison below erases the width.
BAD_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}

# Queries whose result is empty BY DESIGN — they assert emptiness
# (anti-join / set-difference over sets that provably cover each
# other), so 0 rows IS the proof. Every other query producing 0
# oracle rows is a VACUOUS green: the comparison passes while
# exercising nothing (the round-5 lesson — q7's nation pair had no
# trades at sf0.001, and a too-high cosine threshold once
# green-lit an empty near-dup gate). Those fail loudly here.
VACUOUS_OK = {
    "join_anti",  # proves referential cover: no customer without nation
    "set_except",  # proves set cover: keys minus superset is empty
    "referential_integrity",  # violation scan — empty = intact corpus
}

# Keys of the two artifact shapes, in order: PARITY_SF01.json and the
# sf1 decade's PARITY_SF1.json, which also lists missing and retried
# gates.
ARTIFACT_KEYS = {
    "parity_sweep": (
        "metric", "sf_dir", "gates_total", "hash_matched", "failures",
        "exclusions", "note", "gates",
    ),
    "parity_sf1": (
        "metric", "sf_dir", "gates_total", "hash_matched", "failures",
        "missing", "exclusions", "gates", "note", "retried",
    ),
}


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table. Testdata
    tables are single parquet FILES; scaled corpora (.scaled/sf1 etc.)
    are Spark parquet DIRECTORIES, read through a glob."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def bad_types(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple[str, str]]:
    """(column, type) of each column of ``sql``'s result that binds to
    a type in BAD_TYPES. DESCRIBE only binds the query."""
    rows = con.execute("DESCRIBE " + sql).fetchall()
    return [(col, typ) for col, typ, *_ in rows if typ.upper() in BAD_TYPES]


def _verdict(name, spec, spark, con, sf_dir) -> dict:
    def fail(detail):
        return {"status": "FAIL", "detail": detail}

    try:
        sdf = spec.fn(spark, sf_dir)
        s_cols = list(sdf.columns)
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return fail(f"spark error: {type(e).__name__}: {e}")
    if spec.oracle is None:
        if not s_rows and name not in VACUOUS_OK:
            return fail("VACUOUS rows-only gate (0 rows)")
        return {"status": "rows-only", "rows": len(s_rows)}
    try:
        wide = bad_types(con, spec.oracle)
        if wide:
            return fail(
                f"oracle types Spark cannot emit: {wide} — cast the "
                "aggregate to BIGINT"
            )
        res = con.execute(spec.oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as e:  # noqa: BLE001
        return fail(f"duckdb error: {type(e).__name__}: {e}")

    if not d_rows and not s_rows and name not in VACUOUS_OK:
        # only when BOTH sides are empty: an oracle-empty /
        # spark-nonempty result is a real divergence and must
        # fall through to the rowcount diff below, not be
        # misdiagnosed as a query-shape problem
        return fail(
            "VACUOUS — both sides returned 0 rows at this SF; an "
            "empty-vs-empty match proves nothing (reshape the query or "
            "whitelist it in VACUOUS_OK with a reason)"
        )
    if sorted(s_cols) != sorted(d_cols):
        return fail(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        return fail(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    _, sn = _norm_rows(s_cols, s_rows)
    _, dn = _norm_rows(d_cols, d_rows)
    # python-type audit (proxy for the external gate's schema compare):
    # a Decimal-vs-float or date-vs-datetime divergence hashes
    # differently even when values look equal
    if sn and dn:
        tmis = [
            (i, type(a).__name__, type(b).__name__)
            for i, (a, b) in enumerate(zip(sn[0], dn[0]))
            if a is not None and b is not None and type(a) is not type(b)
        ]
        if tmis:
            return fail(f"cell-type mismatch {tmis}")
    if sn != dn:
        ndiff = sum(1 for a, b in zip(sn, dn) if a != b)
        a, b = next((a, b) for a, b in zip(sn, dn) if a != b)
        return fail(
            f"{ndiff}/{len(sn)} rows differ after sort\n"
            f"  spark: {a}\n  duck : {b}"
        )
    return {"status": "hash-match", "rows": len(s_rows)}


def check(sf_dir: str, names: list[str], emit) -> None:
    """Run the gates ``names`` at ``sf_dir`` in order, calling
    ``emit(name, verdict)`` once per gate. A verdict is
    ``{"status": "hash-match" | "rows-only", "rows": N}`` or
    ``{"status": "FAIL", "detail": why}``."""
    registry = load_all()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise KeyError(f"not registered: {unknown}")
    spark = get_spark(app_name="check_parity", shuffle_partitions=8)
    con = duck_views(sf_dir)
    for name in names:
        emit(name, _verdict(name, registry[name], spark, con, sf_dir))


def _check_into(sf_dir: str, names: list[str], verdicts) -> None:
    check(sf_dir, names, lambda name, verdict: verdicts.put((name, verdict)))


def run_isolated(sf_dir: str, names: list[str], timeout_s: float) -> dict:
    """check() ``names`` in a spawned process under a wall cap of
    ``timeout_s``. Returns a verdict for every name: a gate with no
    verdict when the process ends or the cap is hit gets a FAIL that
    says which."""
    ctx = multiprocessing.get_context("spawn")
    verdicts = ctx.Queue()
    proc = ctx.Process(target=_check_into, args=(sf_dir, names, verdicts))
    proc.start()
    deadline = time.monotonic() + timeout_s
    got: dict[str, dict] = {}
    # drain before join; a process seen dead before a get() has
    # already flushed everything it put
    while len(got) < len(names) and time.monotonic() < deadline:
        exited = not proc.is_alive()
        try:
            name, verdict = verdicts.get(timeout=1)
        except queue.Empty:
            if exited:
                break
            continue
        got[name] = verdict
    proc.join(max(0.0, deadline - time.monotonic()))
    if proc.is_alive():
        proc.terminate()
        proc.join()
        why = f"no verdict within the {timeout_s}s wall cap"
    else:
        why = f"process exited with code {proc.exitcode} before a verdict"
    return {n: got.get(n, {"status": "FAIL", "detail": why}) for n in names}


def sweep(sf_dir: str, gates: dict, chunked: list[str], alone: list[str]) -> list[str]:
    """Run ``chunked`` in chunks of CHUNK_SIZE, then re-run alone each
    of those that FAILed plus ``alone``, updating ``gates`` in place.
    Returns the names re-run alone."""
    n_chunks = -(-len(chunked) // CHUNK_SIZE)
    for i in range(n_chunks):
        chunk = chunked[i * CHUNK_SIZE : (i + 1) * CHUNK_SIZE]
        gates.update(run_isolated(sf_dir, chunk, CHUNK_TIMEOUT_S))
        print(f"[check_parity] chunk {i + 1}/{n_chunks} done", file=sys.stderr)
    todo = sorted(
        set(alone) | {n for n in chunked if gates[n]["status"] == "FAIL"}
    )
    for i, name in enumerate(todo):
        gates.update(run_isolated(sf_dir, [name], RETRY_TIMEOUT_S))
        print(f"[check_parity] retry {i + 1}/{len(todo)} {name}: "
              f"{gates[name]['status']}", file=sys.stderr)
    return todo


def artifact(metric, sf_dir, names, gates, retried, note) -> dict:
    """The artifact dict in ``metric``'s shape (ARTIFACT_KEYS)."""
    missing = [n for n in names if n not in gates]
    full = {
        "metric": metric,
        "sf_dir": sf_dir,
        "gates_total": len(names),
        "hash_matched": sum(g["status"] == "hash-match" for g in gates.values()),
        "failures": sum(g["status"] == "FAIL" for g in gates.values())
        + len(missing),
        "missing": missing,
        "exclusions": [],
        "gates": {
            n: {**g, "detail": g["detail"][:300]} if "detail" in g else g
            for n, g in sorted(gates.items())
        },
        "note": note,
        "retried": sorted(retried),
    }
    return {k: full[k] for k in ARTIFACT_KEYS[metric]}


def retry(result: dict, registry: list[str]) -> dict:
    """Resume the artifact ``result``: drop gates not in ``registry``,
    re-run each FAIL alone, sweep in the registered gates it lacks."""
    sf_dir = result["sf_dir"]
    gates = {n: g for n, g in result["gates"].items() if n in registry}
    failed = [n for n, g in gates.items() if g["status"] == "FAIL"]
    new = [n for n in registry if n not in gates]
    retried = sweep(sf_dir, gates, new, failed)
    earlier = [n for n in result.get("retried", []) if n in registry]
    return artifact(
        result["metric"], sf_dir, registry, gates,
        set(earlier) | set(retried), result["note"],
    )


def fresh(sf_dir: str, names: list[str]) -> dict:
    """Sweep ``names`` at ``sf_dir`` into a new artifact."""
    gates: dict[str, dict] = {}
    retried = sweep(sf_dir, gates, names, [])
    # the sf1 decade keeps the shape PARITY_SF1.json has always had
    sf1 = os.path.basename(os.path.normpath(sf_dir)) == "sf1"
    metric = "parity_sf1" if sf1 else "parity_sweep"
    note = (
        f"Spark-vs-DuckDB value-hash parity of {len(names)} registry "
        f"gates at {sf_dir} (tools/check_parity.py --artifact): chunks "
        f"of {CHUNK_SIZE} gates, one process each under a "
        f"{CHUNK_TIMEOUT_S}s wall cap; every FAIL re-run alone."
    )
    return artifact(metric, sf_dir, names, gates, retried, note)


def _line(name: str, verdict: dict) -> str:
    if verdict["status"] == "FAIL":
        return f"FAIL {name}: {verdict['detail']}"
    if verdict["status"] == "rows-only":
        return f"ok   {name}: rows-only ({verdict['rows']} rows)"
    return f"ok   {name}: {verdict['rows']} rows hash-match"


def _print_check(sf_dir: str, names: list[str]) -> int:
    failures = []

    def emit(name, verdict):
        print(_line(name, verdict), flush=True)
        if verdict["status"] == "FAIL":
            failures.append(name)

    check(sf_dir, names, emit)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--artifact", help="sweep into this JSON artifact")
    ap.add_argument("--retry", action="store_true",
                    help="resume the existing --artifact")
    args = ap.parse_args()
    if args.retry:
        if not args.artifact or args.sf_dir:
            ap.error("--retry takes --artifact and no positional arguments")
        with open(args.artifact) as f:
            result = retry(json.load(f), list(load_all()))
    else:
        sf_dir = args.sf_dir or "/root/testdata/sf0.001"
        if not os.path.isdir(sf_dir):
            ap.error(f"no corpus at {sf_dir}")
        registry = load_all()
        unknown = [n for n in args.queries if n not in registry]
        if unknown:
            ap.error(f"not registered: {unknown}")
        names = args.queries or list(registry)
        if not args.artifact:
            return _print_check(sf_dir, sorted(names))
        result = fresh(sf_dir, names)
    with open(args.artifact, "w") as f:
        f.write(json.dumps(result) + "\n")
    print(f"{result['hash_matched']}/{result['gates_total']} hash-matched, "
          f"{result['failures']} failures -> {args.artifact}")
    return 1 if result["failures"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
