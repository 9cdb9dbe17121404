"""Capture .explain("formatted") output for a set of registry queries
into plans/<tag>/<query>_<suffix>.txt — the optimization round's
before/after plan evidence (the judge checks plan claims against these
files; they are committed).

Usage:
    python tools/capture_plans.py <tag> <suffix> [query ...]

With no query names, captures the headline set plus the bench scale
extras that are not streaming replays: SCALE_EXTRA_GATES and the
PROD_SHAPES (shmr_spark/prod_shapes.py). ``suffix`` is typically
``before`` or ``after``.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from shmr_spark import get_spark  # noqa: E402
from shmr_spark.prod_shapes import PROD_SHAPES, SCALE_EXTRA_GATES  # noqa: E402
from shmr_spark.queries import load_all  # noqa: E402


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture_plans")
    registry = load_all()
    fns = {n: s.fn for n, s in registry.items()} | PROD_SHAPES
    if not names:
        names = sorted(
            [n for n, s in registry.items() if s.headline]
            + list(SCALE_EXTRA_GATES)
            + list(PROD_SHAPES)
        )
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = fns[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(jvm_mode)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
