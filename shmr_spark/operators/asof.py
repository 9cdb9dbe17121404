"""As-of join — an operator Spark lacks natively (guide: "Common OLAP
patterns"), composed from existing DataFrame ops per the preference
order (no applyInPandas needed).

Technique: union both sides on aligned schemas, then one window per
key ordered by (ts, tiebreak) — side is encoded in the tiebreak
column's nullability, not a column of its own — carries the most
recent right-side payload forward (last_value ignoreNulls); left rows
then read their as-of match from the carried columns. ONE shuffle
total (the window's hashpartitioning on the key) — versus the naive
inequality-join which Spark plans as a nested-loop. Scales: the
window state is one row of right payload per partition stream, and
skewed keys can pre-split by time range.

Semantics: for each left row, the latest right row with
right_ts < left_ts (strict; ``inclusive=True`` for <=), per key;
unmatched left rows keep NULL right columns (left-join shape) —
matching DuckDB's ``ASOF LEFT JOIN ... ON l.ts > r.ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    inclusive: bool = False,
    tiebreak: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join left→right on key `on`, time columns left_ts/right_ts.

    right_cols: right payload columns to carry (default: all except
    key+ts). tiebreak: integral right column ordering ties at equal
    right_ts (latest wins); required for determinism if right_ts can
    repeat within a key. A NULL tiebreak sorts as Long.MAX
    (9223372036854775807), so it ties with a real Long.MAX value at
    the same key and ts. Raises TypeError for a non-integral tiebreak
    column, which the long cast would truncate into ties. direction:
    "backward" (latest right BEFORE the left ts — the default) or
    "forward" (earliest right AFTER it, DuckDB's
    ``ASOF ... ON l.ts < r.ts``) — forward just flips the window's
    time scan, same single shuffle."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if tiebreak is not None:
        tb_type = right.schema[tiebreak].dataType
        if not isinstance(tb_type, IntegralType):
            raise TypeError(
                f"tiebreak column {tiebreak!r} must be an integral type, "
                f"got {tb_type.simpleString()}"
            )
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]

    # Row-width discipline: every union row crosses the window's one
    # exchange, and UnsafeRow spends a fixed 8-byte slot per column
    # even when NULL. So (a) the side marker is not a column — a row
    # is a LEFT iff __tb IS NULL (lefts never need a tiebreak; rights
    # always carry one, NULL tiebreak values mapped to Long.MAX below),
    # and (b) left payload columns ride as top-level __l_* columns
    # (NULL on right rows), not inside a struct — a nested UnsafeRow
    # costs an offset slot plus its own null bitmap per row.
    carry_cols = [c for c in left.columns if c not in (on, left_ts)]

    lt = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast("long").alias("__tb"),
        *[F.col(c).alias(f"__l_{c}") for c in carry_cols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_cols],
    )
    # NULL means "left row" in __tb, so a NULL right tiebreak becomes
    # Long.MAX: it still sorts last among same-ts rights.
    tb = (
        F.coalesce(F.col(tiebreak).cast("long"), F.lit((1 << 63) - 1))
        if tiebreak is not None
        else F.monotonically_increasing_id()
    )
    rt = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        tb.alias("__tb"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in carry_cols],
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )

    # forward = the same carry, scanning time in reverse: the "last
    # right seen" in a descending scan is the EARLIEST right after the
    # left row. NULL placement at equal ts decides inclusivity: lefts
    # (NULL __tb) first ⇒ a right at ts == left_ts is not yet visible
    # ⇒ strict <; lefts last ⇒ <=. Direction-independent.
    ts_order = F.col("__ts").desc() if direction == "forward" else F.col("__ts").asc()
    tb_order = (
        F.col("__tb").asc_nulls_last()
        if inclusive
        else F.col("__tb").asc_nulls_first()
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(ts_order, tb_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lt.unionByName(rt).select(
        "__tb",
        "__k",
        "__ts",
        *[F.col(f"__l_{c}") for c in carry_cols],
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__c_{c}")
            for c in right_cols
        ],
    )
    is_left = F.col("__tb").isNull()

    def _left_out(c: str) -> F.Column:
        if c == on:
            return F.col("__k").alias(c)
        if c == left_ts:
            return F.col("__ts").alias(c)
        return F.col(f"__l_{c}").alias(c)

    return carried.filter(is_left).select(
        *[_left_out(c) for c in left.columns],
        *[F.col(f"__c_{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
