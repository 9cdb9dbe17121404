"""Vector math over ``array<float>`` embedding columns — pure Column
expressions (F.zip_with + F.aggregate), JVM-side, no UDFs, so
similarity search scales with whole-stage codegen instead of Python.

Arithmetic is done in double after a per-element cast; per-row results
are IEEE-deterministic given the same element order, which both Spark
and DuckDB preserve for list columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sql_double_array(vals) -> str:
    """SQL text of a constant array<double>, for expression strings
    that would otherwise need ``F.array(*[F.lit(float(v)) ...])`` —
    each F.lit is a py4j round trip, so a 64-dim vector costs ~65
    driver calls per construction. Each element is
    ``CAST('<repr>' AS DOUBLE)``, bit-identical to ``F.lit``: repr()
    round-trips every double, and the quoted cast also parses
    nan/inf/-inf and keeps the sign of -0.0 (a bare ``CAST(nan AS
    DOUBLE)`` reads nan as a column name, and ``-0.0`` as a decimal
    literal folds to 0.0)."""
    vals = list(vals)
    if not vals:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + ")"


def sql_ident(name: str) -> str:
    """SQL text of a column name for expression strings: wrapped in
    backticks, with any backtick inside it doubled, so names holding
    backticks, dots or spaces parse as one identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit_double_array(vals) -> Column:
    """Constant array<double> column of ``vals`` as ONE parsed
    expression (see ``sql_double_array``)."""
    return F.expr(sql_double_array(vals))


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns (double)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array<numeric> column (double)."""
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array<numeric> columns (double).

    Computed as dot/(|a|·|b|) in a single expression tree; Catalyst
    collapses the three aggregates into one projection.
    """
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def quantize_int8(a: Column | str) -> Column:
    """Per-vector scalar quantization to uint8 codes [0, 255]:
    code_i = round((x_i - min) / (max - min) * 255). 4× storage cut
    for ANN candidate generation (rerank on the full-precision
    column). Pure Column math (transform + aggregate — JVM-side).
    Constant vectors (max == min) map to code 0."""
    v = _c(a)
    lo = F.array_min(v).cast("double")
    hi = F.array_max(v).cast("double")
    rng = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    return F.transform(
        v,
        lambda x: F.floor((x.cast("double") - lo) / rng * 255.0 + 0.5).cast("int"),
    )


def dequantize_int8(codes: Column | str, lo: Column, hi: Column) -> Column:
    """Inverse of quantize_int8 given the stored per-vector (lo, hi):
    x_i ≈ lo + code_i / 255 * (hi - lo)."""
    rng = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    return F.transform(
        _c(codes), lambda c: (lo + c.cast("double") / 255.0 * rng).cast("double")
    )
