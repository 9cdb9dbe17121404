"""Alternating A/B runs of the perfbench benchmark between two git
revisions, with one verdict per end-to-end metric.

    python tools/ab.py PARENT CHANGE --workload shmr_partitions --seed 1 \\
        --pairs 10 --out ab.json [--trace 1] [--work DIR]

Each revision is exported with ``git archive`` into its own clean
directory under ``--work`` (removed at the end). ``perfbench/run.py``
then runs in the two copies one run at a time, for the
``run_seconds`` that ``BENCHMARK.json`` sets: odd pairs run the
parent first, even pairs the change. A fixed CPU loop (the sentinel)
is timed before and after every run, and the host's steal share over
the run is read from ``/proc/stat``, so a pair taken in bad weather
shows as such.

The JSON file holds every run, and per metric each side's median, q1
and q3 (inclusive quartiles), the change's wins, and the verdict:

- ``gain``: the change is better in at least 9 of 10 pairs (ties count
  for neither side) and the medians differ by more than the parent's
  IQR (q3 - q1);
- ``loss``: the same rule, with the change worse;
- ``unresolved``: neither, and the parent's IQR is wider than the
  metric's bound (``BENCHMARK.json``, a fraction of the parent median);
- ``neutral``: otherwise.

With ``--trace 1`` the runs report per-layer metrics instead; the
counts listed in ``EXACT_COUNTS`` are also checked to repeat exactly
on each side, and their values are diffed between the sides.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SENTINEL_LOOPS = 3_000_000
WIN_SHARE = 0.9
# counts that repeat exactly for one seed, so one traced pair compares them
EXACT_COUNTS = ("exec.jobs", "exec.tasks", "build.py4j_calls", "plan.nodes", "plan.exchanges")


def export(rev: str, dest: str) -> str:
    """A clean copy of ``rev`` at ``dest``; returns the full commit id."""
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", sha], check=True, capture_output=True
    ).stdout
    os.makedirs(dest)
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")
    return sha


def sentinel_s() -> float:
    """Seconds a fixed pure-Python loop takes: the CPU weather."""
    t0 = time.perf_counter()
    x = 0
    for i in range(SENTINEL_LOOPS):
        x += i * i
    return time.perf_counter() - t0


def cpu_times() -> list[int] | None:
    """The host's aggregate CPU jiffies from ``/proc/stat`` (user nice
    system idle iowait irq softirq steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after) -> float | None:
    if before is None or after is None:
        return None
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def run_once(copy: str, args) -> dict:
    """One ``perfbench/run.py`` run in ``copy``, bracketed by the
    sentinel; its result line, or the error that kept it from one."""
    rec = {"sentinel_before_s": sentinel_s()}
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.run(cmd, cwd=copy, capture_output=True, text=True)
    rec["wall_s"] = time.perf_counter() - t0
    rec["steal_frac"] = steal_share(cpu0, cpu_times())
    rec["sentinel_after_s"] = sentinel_s()
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        rec.update(
            correct=result["correct"],
            attempted=result["attempted"],
            failed=result["failed"],
            metrics={k: v["value"] for k, v in result["metrics"].items()},
        )
    except (IndexError, ValueError, KeyError):
        rec["error"] = f"exit {proc.returncode}: {proc.stderr.strip()[-2000:]}"
    return rec


def quartiles(vals: list[float]) -> dict:
    if len(vals) < 2:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "iqr": q3 - q1}


def verdict(pairs: list[tuple[float, float]], better: str, bound: float) -> dict:
    """The rule in the module docstring, on ``(parent, change)`` pairs
    of one metric; ``better`` is "lower" or "higher"."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    losses = sum(sign * (c - p) < 0 for p, c in pairs)
    parent = quartiles([p for p, _ in pairs])
    change = quartiles([c for _, c in pairs])
    gap = sign * (change["median"] - parent["median"])
    need = WIN_SHARE * len(pairs)
    if wins >= need and gap > parent["iqr"]:
        v = "gain"
    elif losses >= need and -gap > parent["iqr"]:
        v = "loss"
    elif parent["iqr"] > bound * abs(parent["median"]):
        v = "unresolved"
    else:
        v = "neutral"
    base = parent["median"]
    return {
        "parent": parent,
        "change": change,
        "pairs": len(pairs),
        "wins": wins,
        "losses": losses,
        "delta_frac": (change["median"] - base) / base if base else None,
        "bound": bound,
        "verdict": v,
    }


def summarize(runs: list[dict], end_to_end: dict) -> dict:
    """Per-metric statistics over the pairs where both runs gave a
    result; a verdict for each metric ``end_to_end`` bounds."""
    done = [r for r in runs if "metrics" in r["parent"] and "metrics" in r["change"]]
    names = set(done[0]["parent"]["metrics"]) if done else set()
    for r in done:
        names &= set(r["parent"]["metrics"]) & set(r["change"]["metrics"])
    out = {}
    for name in sorted(names):
        pairs = [(r["parent"]["metrics"][name], r["change"]["metrics"][name]) for r in done]
        if name in end_to_end:
            out[name] = verdict(pairs, *end_to_end[name])
        else:
            out[name] = {
                "parent": quartiles([p for p, _ in pairs]),
                "change": quartiles([c for _, c in pairs]),
            }
    for name in EXACT_COUNTS:
        if name in out:
            side = {s: sorted({r[s]["metrics"][name] for r in done}) for s in ("parent", "change")}
            out[name]["exact"] = all(len(v) == 1 for v in side.values())
            out[name]["values"] = side
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", default=None, help="where the copies go (default: a new temp dir)")
    args = ap.parse_args(argv)

    work = args.work or tempfile.mkdtemp(prefix="ab-")
    os.makedirs(work, exist_ok=True)
    copies = {s: os.path.join(work, s) for s in ("parent", "change")}
    try:
        shas = {s: export(getattr(args, s), copies[s]) for s in copies}
        with open(os.path.join(copies["parent"], "BENCHMARK.json")) as f:
            bench = json.load(f)
        args.seconds = bench["run_seconds"]
        end_to_end = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
        runs = []
        for i in range(1, args.pairs + 1):
            order = ("parent", "change") if i % 2 else ("change", "parent")
            pair = {"pair": i, "order": list(order)}
            for side in order:
                pair[side] = run_once(copies[side], args)
                m = pair[side].get("metrics", {})
                shown = m.get("job_p50_s", pair[side].get("error", "")[:200])
                print(f"ab: pair {i} {side}: {shown}", file=sys.stderr, flush=True)
            runs.append(pair)
        report = {
            "parent": {"rev": args.parent, "commit": shas["parent"]},
            "change": {"rev": args.change, "commit": shas["change"]},
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "rule": "gain/loss: >= 9 of 10 pairs won/lost (ties count for neither) and "
            "|median gap| > parent IQR; else unresolved if parent IQR > bound x "
            "parent median; else neutral",
            "operations": {
                s: {
                    "attempted": sum(r[s].get("attempted", 0) for r in runs),
                    "failed": sum(r[s].get("failed", 0) for r in runs),
                    "runs_without_result": sum("error" in r[s] for r in runs),
                }
                for s in ("parent", "change")
            },
            "summary": summarize(runs, end_to_end),
            "runs": runs,
        }
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
        for name, s in report["summary"].items():
            if "verdict" in s:
                print(
                    f"ab: {name}: {s['parent']['median']:.4g} -> {s['change']['median']:.4g} "
                    f"(parent IQR {s['parent']['iqr']:.3g}), wins {s['wins']}/{s['pairs']}: "
                    f"{s['verdict']}",
                    file=sys.stderr,
                )
    finally:
        for copy in copies.values():
            shutil.rmtree(copy, ignore_errors=True)
        if args.work is None:
            os.rmdir(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
