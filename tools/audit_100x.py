"""100x shuffle-byte audit for the merge-pinned fact-fact joins.

Extends round 8's q3 regime-boundary audit (SCALING.md) to the rest
of the expensive relational set: each query's shuffle-write bytes are
measured on the 10x corpus and on a derived 100x corpus (60M lineitem
rows), and the 10x->100x byte ratio is compared to the 10x row
growth. Bytes are deterministic (shmr_spark.metrics), so this audit
is immune to the +/-40% wall-clock weather documented in SCALING.md;
wall (min-of-2) is recorded for context only.

Reading the output: ratio ~10x = the exchange is linear in rows past
every broadcast->shuffle boundary, i.e. the plan a 1000-executor
cluster would run scales the way the 100 TB brief needs. A
superlinear ratio must be explained by an executed-plan diff before
it can be called a defect (q3's 122x at sf0.1->10x was an AQE
BHJ->SMJ handoff, linear from there on).

Run: python tools/audit_100x.py  (writes AUDIT_100X.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from shmr_spark.metrics import noop_sink, shuffle_bytes_of  # noqa: E402
from shmr_spark.session import get_spark  # noqa: E402

# The headline set plus these two: with join_three_way and
# sql_q5_region_revenue they are the four expensive fact-fact joins the
# audit began with, and the rest of the headline set gives the whole
# headline benchmark a measured 100x row.
FACT_JOINS = ("q9_profit_by_nation", "q21_single_fault_suppliers")


def main() -> None:
    spark = get_spark(app_name="shmr_audit_100x")
    from tools.make_scaled_sf import make_scaled

    from shmr_spark.queries import load_all

    reg = load_all()
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    d10 = os.path.join(REPO, ".scaled", "sf1")
    d100 = os.path.join(REPO, ".scaled", "sf10_100x")
    t0 = time.perf_counter()
    make_scaled(spark, 10, base, d10)
    make_scaled(spark, 100, base, d100)
    build_s = round(time.perf_counter() - t0, 1)

    queries = [n for n, s in reg.items() if s.headline] + list(FACT_JOINS)
    out: dict[str, dict] = {}
    for name in queries:
        spec = reg[name]
        row: dict = {}
        for label, d in (("10x", d10), ("100x", d100)):
            walls = []
            bytes_ = None
            for rep in range(2):
                t0 = time.perf_counter()
                if rep == 0:
                    bytes_ = shuffle_bytes_of(
                        spark, lambda: noop_sink(spec.fn(spark, d))
                    )
                else:
                    noop_sink(spec.fn(spark, d))
                walls.append(round(time.perf_counter() - t0, 3))
            row[label] = {"write_bytes": bytes_["write"], "wall_min2": min(walls)}
        w10, w100 = row["10x"]["write_bytes"], row["100x"]["write_bytes"]
        row["byte_ratio_100x_over_10x"] = round(w100 / w10, 2) if w10 else None
        out[name] = row
        print(name, json.dumps(row), flush=True)

    result = {"corpus_build_sec": build_s, "queries": out}
    with open(os.path.join(REPO, "AUDIT_100X.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({"done": True, "build_sec": build_s}))


if __name__ == "__main__":
    main()
