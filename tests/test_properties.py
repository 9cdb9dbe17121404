"""Property-based tests (hypothesis): codec round-trips, output
templates, and compat-tier fold semantics against pure-Python ground
truth. Spark-backed properties keep example counts small — each
example is a Spark job."""

from __future__ import annotations

import functools
import json
import math
import struct

import pytest
from hypothesis import example, given, settings, strategies as st

from shmr_spark.compat import funcs
from shmr_spark.compat.cli import _outpath

# -- pure-python properties ------------------------------------------------

field = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\r\n"),
    max_size=30,
)


@given(st.lists(field, min_size=1, max_size=8))
def test_csv_roundtrip(row):
    assert funcs.csv_loads(funcs.csv_dumps(row)) == row


@given(
    st.recursive(
        st.none() | st.booleans() | st.integers(-(2**53), 2**53) | field,
        lambda children: st.lists(children, max_size=4)
        | st.dictionaries(field, children, max_size=4),
        max_leaves=10,
    )
)
def test_json_roundtrip(rec):
    assert funcs.json_loads(funcs.json_dumps(rec)) == json.loads(json.dumps(rec))


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=50))
def test_str2hashnumber_stable_and_64bit(s):
    h1, h2 = funcs.str2hashnumber(s), funcs.str2hashnumber(s)
    assert h1 == h2
    assert 0 <= h1 < 2**64


@given(st.integers(0, 99998))
def test_outpath_templates(auto):
    assert _outpath("out.{auto}.json", "stem", auto=auto) == f"out.{auto:05d}.json"
    assert _outpath("out.{stem}.json", "part7") == "out.part7.json"
    assert _outpath("out.*.json", "part7") == "out.part7.json"
    assert _outpath("out.*.json", "s", auto=auto) == f"out.{auto:05d}.json"


# -- spark-backed properties (small example counts) ------------------------


@pytest.mark.heavy  # slow evidence re-derivation; run via `pytest -m heavy` each round
@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(-1000, 1000), min_size=0, max_size=40),
    st.one_of(st.none(), st.integers(-10, 10)),
)
def test_reduce_records_matches_sequential_fold(spark, xs, init):
    """Compat reduce ≡ pure-Python sequential fold with the reference's
    seeding rule, including a NON-associative fn (acc*2 - rec) that
    would expose any partial-merge shortcut."""
    from shmr_spark.compat import reduce_records
    from shmr_spark.dataset import Dataset

    def fn(rec, accum=0):
        return accum * 2 - rec["x"]

    df = spark.createDataFrame([(x,) for x in xs], "x int")
    ds = Dataset(df.coalesce(1))  # sequential semantics need defined order
    if init is None:
        got = reduce_records(ds, fn)
        want = functools.reduce(lambda a, r: fn(r, a), [{"x": x} for x in xs[1:]], fn({"x": xs[0]})) if xs else None
    else:
        got = reduce_records(ds, fn, init_val=init)
        want = functools.reduce(lambda a, r: fn(r, a), [{"x": x} for x in xs], init)
    assert got == want


@pytest.mark.heavy  # slow evidence re-derivation; run via `pytest -m heavy` each round
@settings(max_examples=5, deadline=None)
@given(st.data())
def test_minhash_estimates_jaccard(spark, data):
    """MinHash signature agreement ≈ true Jaccard within 4σ for random
    shingle-set pairs (k=64 → σ ≈ 0.0625)."""
    from pyspark.sql import functions as F

    from shmr_spark.dedup.minhash import minhash_signature

    base = data.draw(st.sets(st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=3, max_size=6), min_size=10, max_size=40))
    overlap = data.draw(st.floats(0.2, 0.9))
    base = sorted(base)
    keep = base[: max(1, int(len(base) * overlap))]
    extra = [w + "x" for w in base[len(keep):]]
    a, b = base, keep + extra
    true_j = len(set(a) & set(b)) / len(set(a) | set(b))

    df = spark.createDataFrame([(1, a), (2, b)], "id int, sh array<string>")
    sigs = {r.id: r.sig for r in df.select("id", minhash_signature(F.col("sh"), 64).alias("sig")).collect()}
    est = sum(1 for x, y in zip(sigs[1], sigs[2]) if x == y) / 64
    assert abs(est - true_j) <= 0.25


# -- exact-sum overflow contract (functions/numeric.py) ----------------------


def _exact_scaled_sum(xs: list[float]) -> float:
    """Ground truth: the scaled-int64 semantics in exact int space."""
    return sum(math.floor(x * 1_000_000.0 + 0.5) for x in xs) / 1_000_000.0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(-1e6, 1e6).map(lambda x: round(x, 6)), min_size=1, max_size=50
    )
)
def test_dsum_matches_exact_fold(spark, xs):
    from shmr_spark.functions.numeric import davg, dsum

    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    row = df.agg(dsum("x").alias("s"), davg("x").alias("a")).collect()[0]
    want = _exact_scaled_sum(xs)
    assert row.s == want
    assert row.a == want / len(xs)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.floats(), min_size=1, max_size=12))
@example(
    [math.nan, math.inf, -math.inf, -0.0, 0.0, 5e-324, -2.2250738585072e-308,
     1.7976931348623157e308]
)
def test_sql_double_array_matches_f_lit_bitwise(spark, vals):
    """lit_double_array (and every expression string built with
    sql_double_array) holds exactly the doubles F.lit ships, compared
    bit for bit: NaN, ±inf, -0.0 and subnormals included."""
    from pyspark.sql import functions as F

    from shmr_spark.functions.vectors import lit_double_array

    row = spark.range(1).select(
        lit_double_array(vals).alias("got"),
        F.array(*[F.lit(v) for v in vals]).alias("want"),
    ).collect()[0]
    assert [struct.pack(">d", x) for x in row.got] == [
        struct.pack(">d", x) for x in row.want
    ]

def test_dsum_overflow_fails_loudly(spark):
    """Adversarial magnitude: 2000 rows of 9.2e9 → |sum| ≈ 1.84e13,
    past the ~9.2e12 scaled-int64 cap. The unhinted fast path must
    raise (never return a silently wrapped sum)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from shmr_spark.functions.numeric import dsum

    df = spark.range(2000).selectExpr("9.2e9 AS x")
    with pytest.raises(Exception) as exc:
        df.agg(dsum("x").alias("s")).collect()
    msg = str(exc.value)
    assert "overflow" in msg or isinstance(exc.value, Py4JJavaError)


def test_dsum_hint_switches_to_decimal_path(spark):
    """Same adversarial data with the max_abs_sum hint: auto-switch to
    the decimal path and return the exact sum."""
    from shmr_spark.functions.numeric import davg, dsum

    df = spark.range(2000).selectExpr("9.2e9 AS x")
    row = df.agg(
        dsum("x", max_abs_sum=2e13).alias("s"),
        davg("x", max_abs_sum=2e13).alias("a"),
    ).collect()[0]
    assert row.s == 9.2e9 * 2000
    assert row.a == 9.2e9


def test_dsum_hint_below_threshold_keeps_fast_path(spark):
    """A small hint keeps the int64 path — same plan, same value."""
    from shmr_spark.functions.numeric import dsum

    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) / 7 AS x")
    a = df.agg(dsum("x").alias("s")).collect()[0].s
    b = df.agg(dsum("x", max_abs_sum=1e6).alias("s")).collect()[0].s
    assert a == b


def test_dsum_decimal_overflow_gate_is_beyond_fast_path(spark, sf_dir):
    """The dsum_decimal_overflow gate query's magnitude claim: the same
    expression through the int64 fast path raises, so the gate really
    exercises the beyond-int64 decimal route, not a comfortable sum.
    The multiplier adapts to the fixture corpus (the gate's fixed
    10000x is calibrated to sf0.01; smaller fixtures need a larger
    factor for the sum to cross the cap) so the property holds at any
    SHMR_TEST_SF_DIR instead of hardcoding one path."""
    import pytest
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.functions.numeric import INT64_SAFE_ABS_SUM, dsum

    li = load_table(spark, sf_dir, "lineitem")
    total = li.agg(F.sum("l_extendedprice")).first()[0]
    factor = float(10 ** (math.ceil(math.log10(INT64_SAFE_ABS_SUM / total)) + 1))
    big = F.col("l_extendedprice") * F.lit(factor)
    with pytest.raises(Exception) as exc:
        li.agg(dsum(big).alias("s")).collect()
    assert "overflow" in str(exc.value).lower()
