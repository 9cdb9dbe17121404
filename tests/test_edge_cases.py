"""Edge-case behavior: empty inputs, all-null groups, single rows —
the shapes that break naive operator implementations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.dataset import Dataset
from shmr_spark.dedup import minhash_near_duplicates
from shmr_spark.functions.numeric import davg, dsum
from shmr_spark.functions.text import token_count, token_count_re
from shmr_spark.operators import asof_join, salted_agg


def _empty_li(spark, sf_dir):
    return Dataset(load_table(spark, sf_dir, "lineitem")).filter(F.lit(False))


def test_agg_on_empty(spark, sf_dir):
    row = (
        _empty_li(spark, sf_dir)
        .reduce(
            dsum("l_quantity").alias("s"),
            davg("l_quantity").alias("a"),
            F.count("*").alias("n"),
        )
        .df.collect()[0]
    )
    assert row.n == 0
    assert row.s is None  # SQL SUM of empty = NULL, matching DuckDB
    assert row.a is None


def test_groupby_on_empty_yields_no_rows(spark, sf_dir):
    out = _empty_li(spark, sf_dir).reduce_by_key(
        ["l_returnflag"], F.count("*").alias("n")
    )
    assert out.df.collect() == []


def test_distinct_first_single_row_group(spark, sf_dir):
    li = Dataset(load_table(spark, sf_dir, "lineitem")).head(1)
    out = li.distinct_first(["l_partkey"], ["l_orderkey"])
    assert out.count() == 1


def test_minhash_on_empty_and_tiny(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "x")], "doc_id long, text string"
    )
    # shorter than the shingle size: must not crash; no pairs expected
    assert minhash_near_duplicates(df, threshold=0.5).collect() == []
    empty = df.filter(F.lit(False))
    assert minhash_near_duplicates(empty, threshold=0.5).collect() == []


def test_asof_empty_left(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts").filter(F.lit(False))
    out = asof_join(
        left, ev.select("user_id", "ts", "value"), on="user_id",
        left_ts="ts", right_ts="ts", right_cols=["value"],
    )
    assert out.collect() == []


def test_asof_rejects_non_integral_tiebreak(spark, sf_dir):
    """The tiebreak is cast to long, so a fractional one would be
    truncated into ties: it is refused when the join is built."""
    ev = load_table(spark, sf_dir, "events")
    right = ev.select(
        "user_id", "ts", "value", F.col("event_id").cast("double").alias("tb")
    )
    with pytest.raises(TypeError, match="'tb' must be an integral type"):
        asof_join(
            ev.select("user_id", "ts"), right, on="user_id",
            left_ts="ts", right_ts="ts", right_cols=["value"], tiebreak="tb",
        )


def test_asof_left_with_only_key_and_ts(spark, sf_dir):
    """r12: the carried left payload excludes key/ts (they already
    cross the shuffle as __k/__ts) — a left of EXACTLY (key, ts) has
    an empty payload and must still reconstruct both output columns
    and match the full-frame join on the shared rows."""
    ev = load_table(spark, sf_dir, "events")
    right = ev.select("user_id", "ts", "event_id", "value")
    left = ev.select("user_id", "ts")
    out = asof_join(
        left, right, on="user_id",
        left_ts="ts", right_ts="ts", right_cols=["value"],
        tiebreak="event_id", inclusive=False,
    )
    assert out.columns == ["user_id", "ts", "value_asof"]
    full = asof_join(
        ev.select("event_id", "user_id", "ts"), right,
        on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["value"], tiebreak="event_id", inclusive=False,
    ).select("user_id", "ts", "value_asof")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_salted_agg_empty(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.lit(False))
    out = salted_agg(li, ["l_returnflag"], {"n": ("count", "l_orderkey")})
    assert out.collect() == []


def test_token_counts_on_degenerate_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a"), (4, None)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.ws, r.re)
        for r in df.select(
            "doc_id",
            token_count("text").alias("ws"),
            token_count_re("text").alias("re"),
        ).collect()
    }
    assert rows[1] == (1, 0)  # split("", " ") -> [""] (reference-consistent)
    assert rows[2] == (4, 0)  # "   " -> 4 empty fields, 0 regex tokens
    assert rows[3] == (1, 1)
    assert rows[4][0] is None and rows[4][1] is None  # null propagates


def test_operators_on_empty_inputs(spark):
    """Every multi-stage operator must degrade to an empty result on
    an empty input — not raise from a min/max scan, a broadcast of a
    0-row offsets table, or a window over nothing. One sweep so a
    future operator edit can't regress the empty shape unnoticed."""
    from shmr_spark.operators.interval import (
        interval_self_join,
        interval_union_length,
    )
    from shmr_spark.operators.packing import pack_sequences
    from shmr_spark.operators.ranking import (
        global_rank,
        range_shards,
        weighted_median,
    )
    from shmr_spark.operators.selection import (
        apportion,
        select_by_token_budget,
        select_by_token_fraction,
    )
    from shmr_spark.operators.heavy_hitters import heavy_hitters

    docs = spark.createDataFrame(
        [], "doc_id long, quality double, n_tokens long"
    )
    assert pack_sequences(docs).collect() == []
    assert select_by_token_budget(docs, budget=100).collect() == []
    assert select_by_token_fraction(docs, fraction=0.5).collect() == []
    assert apportion(docs, total=10, key_cols=["doc_id"], weight_col="n_tokens").collect() == []
    assert global_rank(docs, "quality", "doc_id").collect() == []
    assert range_shards(docs, "quality", "doc_id", n_shards=4).collect() == []

    iv = spark.createDataFrame([], "k string, iid long, s long, e long")
    assert interval_union_length(iv, ["k"], "s", "e", tiebreak_col="iid").collect() == []
    ts = spark.createDataFrame([], "k string, iid long, ts timestamp")
    assert interval_self_join(ts, "k", "ts", "iid", tolerance_us=10**6).collect() == []

    wm = spark.createDataFrame([], "k string, iid long, v long, w double")
    assert weighted_median(wm, ["k"], "v", "w", tiebreak_cols=["iid"]).collect() == []

    toks = spark.createDataFrame([], "tok string")
    assert heavy_hitters(toks, "tok", phi=0.01).collect() == []


def test_apportion_zero_total_weight_fails_loudly(spark):
    """All-zero weights make every share 0/0; under the session's ANSI
    mode that must surface as DIVIDE_BY_ZERO, never as silent NULL
    quotas that sum to nothing."""
    import pytest

    from shmr_spark.operators.selection import apportion

    df = spark.createDataFrame([("a", 0), ("b", 0)], "k string, n long")
    with pytest.raises(Exception) as exc:
        apportion(df, total=10, key_cols=["k"], weight_col="n").collect()
    assert "DIVIDE_BY_ZERO" in str(exc.value)


def test_read_ndjson_tolerant_quarantines_bad_lines(spark, tmp_path):
    """One corrupt byte costs one row: good lines parse, malformed
    lines land raw in the quarantine side, nothing is dropped."""
    from shmr_spark.sources import read_ndjson_tolerant

    p = tmp_path / "in.json"
    p.write_text(
        '{"id": 1, "text": "ok"}\n'
        '{"id": 2, "text": "also ok"}\n'
        '{"id": 3, "text": "truncat\n'
        "not json at all\n"
        "null\n"
        '{"id": 4, "text": "fine"}\n'
    )
    good, bad = read_ndjson_tolerant(spark, str(p), "id long, text string")
    assert {r.id for r in good.df.collect()} == {1, 2, 4}
    bad_lines = [r[0] for r in bad.df.collect()]
    assert len(bad_lines) == 3
    assert "null" in bad_lines
    assert any("truncat" in l for l in bad_lines)
    assert any("not json" in l for l in bad_lines)


def test_gate_cosines_clear_round_boundaries(spark, sf_dir):
    """The similarity tier quantizes with round(,6), which is only
    cross-engine-risky within ~1 ulp of a 6th-decimal HALF boundary
    (|v·10⁶ mod 1 − 0.5| ≲ 2⁻⁵²·10⁶ ≈ 2e-10). This measures the claim
    the tier's round() policy rests on (see dedup/embedding.py), over
    EVERY round(,6) population a similarity-family gate compares to
    its oracle (r10 verdict task 3):

    - all-pairs doc-doc cosines INCLUDING self-pairs — the superset
      of every gate sim: probe-corpus (probe = vec 0:
      similarity_topk/lsh/ivf/ivf_kmeans/indexed/pq/quantized_rerank,
      embedding_neardup), knn probes (vec_id % 100 == 0), and the
      within-bucket/within-cell pair sims of dedup_embedding_lsh /
      dedup_semantic. PQ's degenerate-exact lookup-table sums and
      semantic's norm-precomputed sims differ from these values only
      in summation order (≲ 1e-15 relative) — far inside the measured
      boundary margin, so they round identically;
    - vector_stats' sq_norm and max_abs populations (the only
      non-cosine round(,6) gate columns).

    Every value clears the boundary by ≥ 10× the ulp window — and
    the same sweep run once at the driver/parity corpora measured
    worst-case margins of 1.6e-6 (sf0.01 cosines), 1.1e-7 (sf0.1
    cosines, 500× the window) and ≥ 5e-4 (both stats columns at both
    scales) — so Spark's BigDecimal HALF_UP and DuckDB's float round
    cannot disagree on any gate value. (PageRank needed dquant because it
    REQUANTIZES per iteration, compounding the exposure; the
    remaining float quantizers — quantize_embeddings, dquant
    consumers — are floor-based, which is bit-deterministic given
    identical IEEE inputs and needs no boundary margin.)"""
    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.functions.vectors import cosine_similarity

    def worst_boundary_dist(vals, col):
        # distance of v·10⁶ from the nearest x.5 rounding boundary
        dist = F.abs(F.col(col) * 1e6 - F.floor(F.col(col) * 1e6) - 0.5)
        return vals.agg(F.min(dist).alias("d")).collect()[0].d

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("ia") <= F.col("ib")).select(
        cosine_similarity(F.col("ea"), F.col("eb")).alias("sim")
    )
    worst = worst_boundary_dist(pairs, "sim")
    assert worst > 2e-9, f"a gate cosine sits {worst} from a round boundary"

    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    stats = emb.select(
        F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x).alias(
            "sq_norm"
        ),
        F.array_max(F.transform(dbl, lambda x: F.abs(x))).alias("max_abs"),
    )
    for col in ("sq_norm", "max_abs"):
        worst = worst_boundary_dist(stats, col)
        assert worst > 2e-9, f"vector_stats {col} sits {worst} from a boundary"


def test_dquant_matches_sql_dquant_on_round_boundaries(spark):
    """dquant / sql_dquant must agree bit-for-bit where the engines'
    round() libraries do NOT: doubles sitting on a 6th-decimal
    boundary (the pagerank_trade_graph sf0.1 divergence, BUILD_LOG
    §48 — Spark's BigDecimal HALF_UP vs DuckDB's float-path round
    differ by 1 ulp on such values)."""
    import duckdb

    from shmr_spark.functions.numeric import dquant, sql_dquant

    # exact .5 boundaries, values just above/below, the pagerank shape
    # (0.15 + 0.85 * x), the literal sf0.1 culprit, and NEGATIVE
    # boundaries — the engine identity holds for any sign (only the
    # tie-break direction differs from round(), see dquant docstring)
    vals = [
        3.0612755, 3.06127549999999, 3.0612755000000001,
        0.1234565, 0.12345650000000001, 1.9999995, 0.0000005,
        0.15 + 0.85 * 3.4250300000000003, 2.7182818, 1e-7, 0.0,
        -3.0612755, -0.1234565, -0.0000005, -1.9999995, -2.7182818,
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.q for r in sdf.select(dquant("x").alias("q")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {sql_dquant(str(repr(v)))}").fetchone()[0]
        for v in vals
    ]
    assert got == want


def test_lm_terms_clear_floor_boundaries(spark, sf_dir):
    """The bigram LM (functions/lm.py) floor-quantizes −ln P(w2|w1)
    per distinct bigram before the exact int64 sum. ln() is the one
    transcendental in an oracled gate: a ≤1-ulp libm disagreement
    moves term·10⁶ + 0.5 by ~|term|·10⁶·2⁻⁵² ≈ 2e-9, so quantization
    is cross-engine-safe iff no term sits that close to a floor
    (integer) boundary. Measured over every (doc, bigram) term at the
    gate corpora: worst margin 2.3e-4 (sf0.001, 26k terms), 4.2e-5
    (sf0.01, 26k terms), 8.2e-4 (sf0.1, 256k terms) — ≥ 2×10⁴ times
    the window. Same playbook as the similarity tier's round(,6)
    policy (test_gate_cosines_clear_round_boundaries above)."""
    from shmr_spark.catalog import load_table
    from shmr_spark.functions.lm import bigram_lm_terms

    docs = load_table(spark, sf_dir, "documents")
    y = F.col("term") * 1e6 + 0.5
    dist = F.least(y - F.floor(y), F.floor(y) + 1 - y)
    worst = bigram_lm_terms(docs).agg(F.min(dist).alias("d")).collect()[0].d
    assert worst > 2e-8, f"an LM term sits {worst} from a floor boundary"


def test_dsir_terms_clear_floor_boundaries(spark, sf_dir):
    """Same playbook for the DSIR gate (functions/dsir.py): its
    per-(doc, token) importance terms are SIGNED (the LM tier's are
    ≥ 0), so this measures boundary distance over both signs of the
    term population at the gate corpus. Measured worst margins:
    6.6e-3 (sf0.001, 11.7k terms), 5.1e-3 (sf0.01), 8.9e-3 (sf0.1,
    116k terms) — ≥ 10⁶ times the ~2e-9 ulp-drift window (DSIR terms
    are small log-ratios, |term| < 0.23 here, so term·10⁶ rarely
    lands near an integer)."""
    from shmr_spark.catalog import load_table
    from shmr_spark.functions.dsir import dsir_logweight_terms

    docs = load_table(spark, sf_dir, "documents")
    terms = dsir_logweight_terms(docs, F.col("lang") == "en")
    y = F.col("term") * 1e6 + 0.5
    dist = F.least(y - F.floor(y), F.floor(y) + 1 - y)
    worst = terms.agg(F.min(dist).alias("d")).collect()[0].d
    assert worst > 2e-8, f"a DSIR term sits {worst} from a floor boundary"


def test_dsir_hashed_terms_clear_floor_boundaries(spark, sf_dir):
    """The hashed-feature estimator's term population (the
    dsir_select_hashed gate, md5 buckets B=16 — below the corpus's
    31-token vocabulary so collisions actually merge counts) through
    the same boundary-margin check: merged counts change the ln()
    operands, so the margin must be re-measured, not inherited from
    the unigram population. Measured worst margins: 5.2e-2
    (sf0.001), 1.0e-1 (sf0.01), 5.4e-3 (sf0.1) — ≥ 2×10⁶ times the
    ~2e-9 ulp-drift window. (At every gate scale the hashed
    logweights differ from the unigram ones on EVERY document —
    verified when B was chosen — so the gate pins the collision
    path, not a vacuous rehash.)"""
    from shmr_spark.catalog import load_table
    from shmr_spark.functions.dsir import dsir_logweight_terms
    from shmr_spark.queries.text import _DSIR_HASH_B

    docs = load_table(spark, sf_dir, "documents")
    terms = dsir_logweight_terms(
        docs, F.col("lang") == "en", hash_buckets=_DSIR_HASH_B
    )
    y = F.col("term") * 1e6 + 0.5
    dist = F.least(y - F.floor(y), F.floor(y) + 1 - y)
    worst = terms.agg(F.min(dist).alias("d")).collect()[0].d
    assert worst > 2e-8, (
        f"a hashed DSIR term sits {worst} from a floor boundary"
    )

    # the full unigram+bigram hashed feature set (the
    # dsir_select_ngram_hashed gate, B=64): a third term population
    # again — measured worst margins 8.5e-4 (sf0.001), 2.0e-3
    # (sf0.01), 4.3e-3 (sf0.1), ≥ 4×10⁵ over the window
    from shmr_spark.queries.text import _DSIR_NGRAM_B

    terms2 = dsir_logweight_terms(
        docs, F.col("lang") == "en", hash_buckets=_DSIR_NGRAM_B, ngrams=2
    )
    y2 = F.col("term") * 1e6 + 0.5
    dist2 = F.least(y2 - F.floor(y2), F.floor(y2) + 1 - y2)
    worst2 = terms2.agg(F.min(dist2).alias("d")).collect()[0].d
    assert worst2 > 2e-8, (
        f"an ngram-hashed DSIR term sits {worst2} from a floor boundary"
    )


def test_kl_terms_clear_floor_boundaries(spark, sf_dir):
    """The source-KL gate (functions/lm.py source_unigram_kl)
    floor-quantizes one SIGNED ln() population — the per-
    (source, token) log likelihood ratio ln(c·N / (n·ct)) — before
    the count-weighted exact int64 sum, so it must clear floor
    boundaries like every other quantized transcendental (the
    lm/dsir playbook above). Measured worst margins at the gate
    corpora: 9.1e-5 (sf0.001, 617 terms), 3.1e-3 (sf0.01),
    2.6e-4 (sf0.1, 620 terms) — ≥ 4×10⁴ times the ~2e-9 ulp-drift
    window."""
    from shmr_spark.catalog import load_table
    from shmr_spark.functions.lm import source_unigram_kl_terms

    docs = load_table(spark, sf_dir, "documents")
    y = F.col("term") * 1e6 + 0.5
    dist = F.least(y - F.floor(y), F.floor(y) + 1 - y)
    worst = (
        source_unigram_kl_terms(docs).agg(F.min(dist).alias("d")).collect()[0].d
    )
    assert worst > 2e-8, f"a KL term sits {worst} from a floor boundary"


def test_nb_terms_clear_floor_boundaries(spark, sf_dir):
    """The NB classifier (functions/nb.py) floor-quantizes two ln()
    populations — the per-(token, class) likelihood and the per-class
    prior — before the exact int64 score sum, so BOTH must clear
    floor boundaries by more than the ~2e-9 libm-ulp window (the
    lm/dsir playbook). Measured worst margins at the gate corpora:
    likelihood 1.6e-3 (sf0.001, 11.6k terms), 2.0e-3 (sf0.01),
    1.5e-3 (sf0.1, 116k terms); prior 1.8e-1 / 1.3e-1 / 2.7e-2 —
    ≥ 7×10⁵ times the window."""
    from shmr_spark.catalog import load_table
    from shmr_spark.functions.nb import nb_score_terms

    docs = load_table(spark, sf_dir, "documents")
    terms = nb_score_terms(docs, "lang", F.col("doc_id") % 5 != 0)

    def margin(col):
        y = F.col(col) * 1e6 + 0.5
        return F.least(y - F.floor(y), F.floor(y) + 1 - y)

    row = terms.agg(
        F.min(margin("lik")).alias("ml"),
        F.min(margin("prior")).alias("mp"),
    ).collect()[0]
    assert row.ml > 2e-8, f"an NB likelihood sits {row.ml} from a boundary"
    assert row.mp > 2e-8, f"an NB prior sits {row.mp} from a boundary"


def test_nb_binary_terms_clear_floor_boundaries(spark, sf_dir):
    """The target-vs-rest relabeling (nb_target_select) merges class
    counts into a NEW pair of ln() populations — margins re-measured,
    not inherited from the 5-class gate. Measured worst: likelihood
    5.6e-3 (sf0.001), 2.1e-2 (sf0.01), 5.6e-4 (sf0.1); prior
    2.4e-1 / 2.8e-1 / 1.1e-2 — ≥ 2.8×10⁵ times the ~2e-9 window."""
    from shmr_spark.catalog import load_table
    from shmr_spark.functions.nb import nb_score_terms

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__cls",
        F.when(F.col("lang") == "en", F.lit("target")).otherwise(
            F.lit("rest")
        ),
    )
    terms = nb_score_terms(docs, "__cls", F.col("doc_id") % 5 != 0)

    def margin(col):
        y = F.col(col) * 1e6 + 0.5
        return F.least(y - F.floor(y), F.floor(y) + 1 - y)

    row = terms.agg(
        F.min(margin("lik")).alias("ml"),
        F.min(margin("prior")).alias("mp"),
    ).collect()[0]
    assert row.ml > 2e-8, f"a binary-NB likelihood sits {row.ml} from a boundary"
    assert row.mp > 2e-8, f"a binary-NB prior sits {row.mp} from a boundary"


def test_weighted_sample_ln_population_clears_floor_boundaries():
    """The Efraimidis–Spirakis operator quantizes ln(u) over a FIXED
    population — the 2²⁰ md5-bucket midpoints — before the
    full-precision divide by the weight, so its boundary margin is a
    design CONSTANT checked exhaustively over every possible u, not
    a per-corpus measurement: minimum distance 1.33e-7 (at bucket
    741242), 41× the ~3.2e-9 ulp-drift window for |ln u|·10⁶ ≤
    1.46e7. (Quantizing ln(u)/w instead would make the margin
    corpus-dependent AND collapse key resolution for large weights —
    the defect the fixed-population design removes.) Spot-checks a
    deterministic stratified subsample here; the exhaustive Python
    sweep that produced the constant is cheap to re-run if the
    bucket count ever changes."""
    import math

    B = 1 << 20
    worst = 1.0
    # every 97th bucket + the known-worst bucket: 10,8k points, <0.1s
    for b in list(range(0, B, 97)) + [741242]:
        y = math.log((b + 0.5) / B) * 1e6 + 0.5
        d = min(y - math.floor(y), math.floor(y) + 1 - y)
        worst = min(worst, d)
    assert worst == min(worst, 1.3347016647458076e-07)
    assert worst > 1.3e-7, f"ln-population margin regressed: {worst}"


def test_zipf_terms_clear_floor_boundaries(spark, sf_dir):
    """The Zipf gate feeds four ln-derived populations (x, y, x·y,
    x·x over the ranked vocabulary) through dsum's 1e-6 quantizer —
    same boundary-margin obligation as every quantized
    transcendental. Measured worst margin across all four
    populations at the gate corpora: 1.0e-2 (sf0.001, sf0.01),
    5.1e-3 (sf0.1) — ≥ 10⁶ times the ulp-drift window."""
    from shmr_spark.catalog import load_table
    from shmr_spark.functions.text import tokens
    from shmr_spark.operators.ranking import global_rank

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    ranked = global_rank(
        freq.withColumn("__negc", -F.col("c")), "__negc", "tok", rank_col="rank"
    )
    x = F.log(F.col("rank").cast("double"))
    yv = F.log(F.col("c").cast("double"))
    worst = 1.0
    for col in (x, yv, x * yv, x * x):
        z = col * 1e6 + 0.5
        d = F.least(z - F.floor(z), F.floor(z) + 1 - z)
        worst = min(worst, ranked.agg(F.min(d).alias("d")).collect()[0].d)
    assert worst > 2e-8, f"a Zipf term sits {worst} from a floor boundary"
