"""Budgeted corpus selection: keep the highest-quality documents until
a global token budget fills — the standard "cut the corpus to N
tokens, best first" step between scoring and training.

Semantics: rank rows by (score DESC, id ASC); a row is kept iff the
cumulative token count of every row ranked STRICTLY BEFORE it is under
the budget (so the straddling document is kept — the cut never leaves
budget unused, matching concat-then-chunk loaders that truncate the
final document).

Scale design — the naive form is a single global window
(SUM(tokens) OVER (ORDER BY score DESC, id)), which Spark executes in
ONE task. This uses the same two-phase distributed prefix sum as
operators/packing.py, with the order key quantized into score buckets:

1. bucket rows by floor(score · K) — order-preserving w.r.t. the
   score-descending sort (floor is monotonic; equal scores share a
   bucket, so the (score DESC, id) refinement stays inside buckets);
2. per-bucket token totals (small agg) + a window over the ≤K+1
   bucket rows gives each bucket's global starting offset;
3. broadcast-join offsets back; per-bucket cumulative window runs in
   parallel across buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shmr_spark.functions.vectors import sql_ident


def score_bucket(score_col: str, score_buckets: int):
    """The non-auto-scaled bucket expression, shared between the
    in-plan operators and driver-side bucket-total folds
    (``select_by_token_fraction_from_totals``): callers that
    pre-aggregate per-bucket token totals in their own action must
    group by EXACTLY this expression or the offsets they derive key a
    different partition of the rows."""
    return F.floor(F.col(score_col) * F.lit(score_buckets))


def auto_scaled_bucket(
    score_col: str, smin, smax, score_buckets: int
):
    """The ``auto_scale_score`` bucket expression with the min/max as
    driver-collected LITERALS — the expression tree mirrors the
    in-plan affine map operation for operation (subtract, divide,
    multiply, floor, least, the span>0 guard), so on the same doubles
    it floors to the identical bucket: collected doubles round-trip
    bit-exactly and Catalyst's constant folding uses the same IEEE
    arithmetic the runtime would. Callers that collect per-bucket
    token totals for ``select_by_token_fraction_from_totals`` must
    group by EXACTLY this expression (same smin/smax literals).

    ``smin``/``smax`` of None (empty or all-NULL-score input)
    degenerate to bucket 0, like the span-0 branch."""
    if smin is None or smax is None:
        return F.lit(0).cast("long")
    span = F.lit(float(smax)) - F.lit(float(smin))
    return (
        F.when(
            span > 0,
            F.least(
                F.floor(
                    (F.col(score_col) - F.lit(float(smin)))
                    / span
                    * F.lit(score_buckets)
                ),
                F.lit(score_buckets - 1),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )


def select_by_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    score_buckets: int = 1000,
    auto_scale_score: bool = False,
) -> DataFrame:
    """Rows of ``df`` kept by the greedy quality-ordered budget cut.

    Output: id_col, score_col, tokens_col, start_tok — where start_tok
    is the exact global number of tokens ranked before the row
    (identical to the naive single-window cumulative sum; asserted in
    tests). Kept rows satisfy start_tok < budget.

    Rows with a NULL score are excluded up front (explicitly, not as a
    join artifact): an unscored document has no rank in a
    quality-ordered cut. Score a default if such rows must compete.

    ``auto_scale_score`` rescales the score into bucket space from an
    IN-PLAN min/max (a 1-row broadcast relation) before flooring, so
    the populated-bucket count tracks the score column's OBSERVED
    spread, not its worst-case bound. floor(score·K) is the right
    default for scores designed to fill a known unit range (the
    quality heuristic); a score that merely has a wide theoretical
    bound but concentrates tightly (a per-token mean log-ratio such
    as DSIR's, bounded ±ln(corpus) but empirically within ±0.25)
    would land almost entirely in a handful of static buckets, and
    the per-bucket cumulative window would then run large corpus
    fractions in single tasks. The affine map
    floor((s − min)/(max − min) · K) (clamped to K−1, bucket 0 when
    the span is empty) is monotone non-decreasing in the score —
    IEEE subtraction/division/multiplication by positive constants
    preserve order — so the decomposition stays order-preserving and
    the output is bit-identical either way. Costs one extra reference
    to ``df`` (the min/max aggregate); callers with expensive
    lineages should persist ``df`` first, which the training pipeline
    already does at its materialization point.
    """
    df = df.filter(F.col(score_col).isNotNull())
    if auto_scale_score:
        rng = df.agg(
            F.min(score_col).alias("__smin"), F.max(score_col).alias("__smax")
        )
        span = F.col("__smax") - F.col("__smin")
        scaled = (
            F.when(
                span > 0,
                F.least(
                    F.floor(
                        (F.col(score_col) - F.col("__smin"))
                        / span
                        * F.lit(score_buckets)
                    ),
                    F.lit(score_buckets - 1),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        rows = df.crossJoin(F.broadcast(rng)).select(
            F.col(id_col),
            F.col(score_col),
            F.col(tokens_col),
            scaled.alias("__bucket"),
        )
    else:
        bucket = score_bucket(score_col, score_buckets).alias("__bucket")
        rows = df.select(
            F.col(id_col), F.col(score_col), F.col(tokens_col), bucket
        )

    totals = rows.groupBy("__bucket").agg(F.sum(tokens_col).alias("__btot"))
    # higher bucket = higher score = earlier in the ranking
    w_b = Window.orderBy(F.desc("__bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__bucket",
        F.coalesce(F.sum("__btot").over(w_b), F.lit(0)).alias("__boff"),
    )

    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(F.desc(score_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        rows.join(F.broadcast(offsets), "__bucket")
        .select(
            F.col(id_col),
            F.col(score_col),
            F.col(tokens_col),
            (
                F.col("__boff")
                + F.coalesce(F.sum(tokens_col).over(w_in), F.lit(0))
            ).cast("long").alias("start_tok"),
        )
        .filter(F.col("start_tok") < F.lit(budget))
    )


def select_by_token_fraction(
    df: DataFrame,
    fraction: float,
    score_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    score_buckets: int = 1000,
    auto_scale_score: bool = False,
) -> DataFrame:
    """``select_by_token_budget`` with the budget expressed as a
    FRACTION of the input's total token mass, computed IN-PLAN: the
    scalar total rides the final plan as a broadcast crossJoin — no
    separate driver action. Note ``df`` is still REFERENCED TWICE in
    that plan (the prefix-sum path and the total aggregate), so an
    expensive upstream lineage (a dedup chain) is scanned twice
    unless the caller persists ``df`` first — training_pipeline does
    exactly that at its materialization point. Same keep rule:
    start_tok < fraction · total — but the cut is evaluated in EXACT
    DECIMAL arithmetic in-plan, not double: a double-typed product
    drifts past 2⁵³ total tokens (the integer-exact discipline
    apportion already follows). The double→decimal cast goes through
    the shortest decimal rendering, so fraction=0.1 means exactly
    1/10, not the binary float; the decimal(19,0)·decimal(19,18)
    product keeps 17 fractional digits, so the comparison boundary
    is exact to 10⁻¹⁷ of a token at any representable total."""
    annotated = select_by_token_budget(
        df,
        budget=1 << 62,  # no-op cut; reuse the distributed prefix sum
        score_col=score_col,
        tokens_col=tokens_col,
        id_col=id_col,
        score_buckets=score_buckets,
        auto_scale_score=auto_scale_score,
    )
    total = df.filter(F.col(score_col).isNotNull()).agg(
        F.sum(tokens_col).cast("decimal(19,0)").alias("__total_tok")
    )
    cut = F.col("__total_tok") * F.lit(float(fraction)).cast("decimal(19,18)")
    return (
        annotated.crossJoin(F.broadcast(total))
        .filter(F.col("start_tok") < cut)
        .drop("__total_tok")
    )


def select_by_token_fraction_from_totals(
    df: DataFrame,
    bucket_totals: list[tuple[int, int]],
    fraction: float,
    score_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    score_buckets: int = 1000,
    bucket_expr=None,
) -> DataFrame:
    """``select_by_token_fraction`` for callers that ALREADY hold the
    per-bucket token totals from a driver-side action of their own —
    ``bucket_totals`` is [(bucket, token_total), ...] grouped by
    exactly ``score_bucket(score_col, score_buckets)`` over the
    non-NULL-score rows of ``df``; callers on the auto-scaled path
    pass the SAME ``auto_scaled_bucket(...)`` Column they grouped by
    as ``bucket_expr`` (it overrides the static bucketing — the
    two-step driver fold of ``auto_scale_score``: min/max collected
    first, bucket totals grouped by the literal affine map second).

    Identical output, cheaper plan: the bucket-offset relation and the
    total-token scalar that ``select_by_token_fraction`` computes
    IN-PLAN (one groupBy+exchange+single-partition-window sub-plan
    plus one full aggregate, re-executed by EVERY action over the
    result) become a driver-built ≤(score_buckets+1)-row local
    relation and a literal integer budget. The training pipeline uses
    this to fold the selection's offsets into the one survivor-stats
    action it already takes at its materialization point.

    The cut boundary replicates the in-plan decimal arithmetic
    digit-for-digit so the kept set is bit-identical (asserted in
    tests): fraction goes through the shortest-repr double→
    decimal(19,18) HALF_UP cast, the decimal(19,0)·decimal(19,18)
    product is rounded HALF_UP to the decimal(38,17) Spark assigns
    it, and the integer keep rule start_tok < cut becomes
    start_tok < ceil(cut) (equivalent for integral start_tok whether
    or not cut is itself integral)."""
    from decimal import ROUND_CEILING, ROUND_HALF_UP, Decimal

    df = df.filter(F.col(score_col).isNotNull())

    run = 0
    boffs: list[tuple[int, int]] = []
    # higher bucket = higher score = earlier in the ranking
    for b, t in sorted(bucket_totals, key=lambda r: -r[0]):
        boffs.append((int(b), run))
        run += int(t)
    total = run

    frac = Decimal(repr(float(fraction))).quantize(
        Decimal("1e-18"), rounding=ROUND_HALF_UP
    )
    cut = (Decimal(total) * frac).quantize(
        Decimal("1e-17"), rounding=ROUND_HALF_UP
    )
    budget = int(cut.to_integral_value(rounding=ROUND_CEILING))

    offsets = df.sparkSession.createDataFrame(
        boffs, schema="__bucket long, __boff long"
    )
    bucket = (
        bucket_expr
        if bucket_expr is not None
        else score_bucket(score_col, score_buckets)
    )
    rows = df.select(
        F.col(id_col),
        F.col(score_col),
        F.col(tokens_col),
        bucket.alias("__bucket"),
    )
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(F.desc(score_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        rows.join(F.broadcast(offsets), "__bucket")
        .select(
            F.col(id_col),
            F.col(score_col),
            F.col(tokens_col),
            (
                F.col("__boff")
                + F.coalesce(F.sum(tokens_col).over(w_in), F.lit(0))
            ).cast("long").alias("start_tok"),
        )
        .filter(F.col("start_tok") < F.lit(budget))
    )


def apportion(
    weights_df,
    total: int,
    key_cols: list[str],
    weight_col: str = "n",
):
    """Largest-remainder (Hamilton) apportionment: split an integer
    ``total`` across groups proportional to integer weights so quotas
    SUM EXACTLY to ``total`` — the guarantee rate-based sampling
    (temperature_mix_rates) cannot give. Base quota is
    ``floor(total·w / W)``; the leftover seats go to the largest
    remainders, which compare as the INTEGER ``(total·w) mod W`` —
    no floats anywhere, so allocation is hash-exact cross-engine.

    Ties break by key order. Requires |total·w| < 2⁶³ (callers at
    planetary scales pre-scale weights down — quotas only need the
    ratios). One tiny unpartitioned window: the frame is one row per
    GROUP, not per data row.

    Returns (key_cols..., n BIGINT, quota BIGINT).
    """
    keys = [F.col(sql_ident(c)) for c in key_cols]
    weight = sql_ident(weight_col)
    w = F.col(weight).cast("long")
    tot_w = Window.partitionBy()  # group-count rows only
    W = F.sum(w).over(tot_w)
    base = F.expr(f"({total} * CAST({weight} AS BIGINT)) div __W")
    rem = F.expr(f"({total} * CAST({weight} AS BIGINT)) % __W")
    staged = (
        weights_df.withColumn("__W", W)
        .withColumn("__base", base)
        .withColumn("__rem", rem)
    )
    leftover = F.lit(total) - F.sum("__base").over(tot_w)
    rk = Window.orderBy(F.col("__rem").desc(), *keys)
    return (
        staged.withColumn("__lo", leftover)
        .withColumn("__rk", F.row_number().over(rk))
        .select(
            *keys,
            w.alias("n"),
            (
                F.col("__base")
                + F.when(F.col("__rk") <= F.col("__lo"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
    )
