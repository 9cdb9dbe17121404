"""Property-based tests for the invariant-rich operators: each one is
checked against a pure-Python brute-force oracle over random inputs,
complementing the fixed-corpus DuckDB gates (which pin one input) with
structural guarantees over many (exact quota sums, prefix-sum
equivalence, pair completeness, union coverage).

Spark-backed: example counts stay small — every example is a job.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

# -- apportion: exact Hamilton quotas ---------------------------------------


def _hamilton(keys: list[str], weights: list[int], total: int) -> dict[str, int]:
    W = sum(weights)
    base = [total * w // W for w in weights]
    rem = [total * w % W for w in weights]
    leftover = total - sum(base)
    order = sorted(range(len(keys)), key=lambda i: (-rem[i], keys[i]))
    quota = dict(zip(keys, base))
    for i in order[:leftover]:
        quota[keys[i]] += 1
    return quota


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=12).filter(
        lambda ws: sum(ws) > 0
    ),
    st.integers(0, 1_000_000),
)
def test_apportion_matches_hamilton(spark, weights, total):
    """Quotas equal the pure-Python largest-remainder allocation
    exactly — and therefore sum exactly to `total` and sit within
    {floor, floor+1} of each group's exact share."""
    from shmr_spark.operators.selection import apportion

    keys = [f"g{i:02d}" for i in range(len(weights))]
    df = spark.createDataFrame(list(zip(keys, weights)), "k string, n long")
    got = {
        r.k: r.quota
        for r in apportion(df, total=total, key_cols=["k"], weight_col="n").collect()
    }
    want = _hamilton(keys, weights, total)
    assert got == want
    assert sum(got.values()) == total
    W = sum(weights)
    for k, w in zip(keys, weights):
        assert total * w // W <= got[k] <= total * w // W + 1


@pytest.mark.parametrize(
    "key, weight", [("lang", "n w"), ("lang", "n.w"), ("lang", "n`w"), ("la.ng", "n")]
)
def test_apportion_quotes_awkward_column_names(spark, key, weight):
    """Weight and key names holding a space, a dot or a backtick give
    the same quotas as a plain ``lang``/``n`` frame."""
    from shmr_spark.operators.selection import apportion

    rows = [("en", 7), ("de", 3), ("fr", 5), ("es", 1)]
    plain = spark.createDataFrame(rows, "lang string, n long")
    want = {r.lang: r.quota for r in apportion(plain, 99, ["lang"]).collect()}
    df = plain.toDF(key, weight)
    got = {r[0]: r.quota for r in apportion(df, 99, [key], weight).collect()}
    assert got == want
    assert sum(want.values()) == 99


# -- prefix_sum: two-phase scan ≡ sequential, incl. NULL semantics ----------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-10_000, 10_000),
            st.one_of(st.none(), st.integers(-100, 100)),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_prefix_sum_matches_sequential_oracle(spark, rows):
    """prefix_sum equals the pure-Python running total with SQL
    window-SUM NULL semantics (skip NULLs; all-NULL prefix -> NULL)
    for random gapped/negative keys and random NULL placement."""
    from shmr_spark.operators.packing import prefix_sum

    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.cum for r in prefix_sum(df, "k", "v", "cum").collect()}
    run, seen, want = 0, 0, {}
    for k, v in sorted(rows):
        if v is not None:
            run += v
            seen += 1
        want[k] = run if seen else None
    assert got == want


# -- global_ntile: exact SQL remainder rule ----------------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10_000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 12),
)
def test_global_ntile_matches_remainder_oracle(spark, rows, n):
    """global_ntile equals the pure-Python ntile remainder rule (first
    N % n tiles get one extra row in (key, id) order) for random
    duplicate-heavy keys, gapped ids, and random n — including N < n."""
    from shmr_spark.operators.ranking import global_ntile

    df = spark.createDataFrame(rows, "k long, i long")
    got = {
        (r.k, r.i): r.tile for r in global_ntile(df, "k", "i", n).collect()
    }
    total = len(rows)
    q, rem = divmod(total, n)
    want = {}
    for rank, (k, i) in enumerate(sorted(rows), start=1):
        if rank <= rem * (q + 1):
            want[(k, i)] = (rank - 1) // (q + 1) + 1
        else:
            want[(k, i)] = rem + (rank - rem * (q + 1) - 1) // q + 1
    assert got == want


# -- pack_sequences: distributed prefix sum ≡ sequential ---------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 200)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 64),
)
def test_pack_sequences_is_exact_prefix_sum(spark, docs, budget):
    """start_tok equals the sequential prefix sum in id order (the
    two-phase decomposition — now the shared prefix_sum with
    auto-width buckets — is an implementation detail), and pack_id is
    start_tok // budget."""
    from shmr_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(docs, "doc_id long, n_tokens long")
    out = pack_sequences(df, budget=budget).collect()
    run, want = 0, {}
    for did, toks in sorted(docs):
        want[did] = run
        run += toks
    assert {r.doc_id: r.start_tok for r in out} == want
    assert all(r.pack_id == r.start_tok // budget for r in out)


# -- select_by_token_budget: greedy quality-ordered cut ----------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 400),
            st.floats(0, 1).map(lambda x: round(x, 6)),
            st.integers(0, 50),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(0, 300),
)
def test_select_by_token_budget_matches_greedy(spark, docs, budget):
    """Kept set and start_tok equal the naive sequential greedy cut in
    (score DESC, id ASC) order — the bucketed two-phase prefix sum is
    behaviourally invisible."""
    from shmr_spark.operators.selection import select_by_token_budget

    df = spark.createDataFrame(docs, "doc_id long, quality double, n_tokens long")
    out = {
        r.doc_id: r.start_tok
        for r in select_by_token_budget(df, budget=budget).collect()
    }
    run, want = 0, {}
    for did, score, toks in sorted(docs, key=lambda t: (-t[1], t[0])):
        if run < budget:
            want[did] = run
        run += toks
    assert out == want


# -- global_rank / range_shards: bucketed rank ≡ sequential enumerate --------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(0, 10_000)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.integers(1, 7),
)
def test_global_rank_and_range_shards_match_enumerate(spark, rows, n_shards):
    """rank is the exact 1-based position in (key, id) order for any
    key distribution the auto-bucketer sees (duplicates, negatives,
    single-value keys), and shard populations differ by at most one
    row while staying key-contiguous."""
    from shmr_spark.operators.ranking import global_rank, range_shards

    df = spark.createDataFrame(rows, "k long, iid long")
    got = {
        (r.k, r.iid): r.rank
        for r in global_rank(df, "k", "iid").collect()
    }
    want = {kv: i + 1 for i, kv in enumerate(sorted(rows))}
    assert got == want

    shards = {
        (r.k, r.iid): r.shard_id
        for r in range_shards(df, "k", "iid", n_shards=n_shards).collect()
    }
    total = len(rows)
    assert shards == {
        kv: (want[kv] - 1) * n_shards // total for kv in want
    }
    sizes = [list(shards.values()).count(s) for s in set(shards.values())]
    assert max(sizes) - min(sizes) <= 1


# -- interval_union_length: sweep line ≡ per-unit coverage -------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 60),
            st.integers(0, 25),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_interval_union_matches_unit_coverage(spark, raw):
    """covered == |union of [s, e)| counted cell-by-cell, overlaps
    once, touching intervals merged, zero-length intervals adding
    nothing; n_intervals == the key's input row count."""
    from shmr_spark.operators.interval import interval_union_length

    rows = [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(raw)]
    df = spark.createDataFrame(rows, "k string, iid long, s long, e long")
    got = {
        r.k: (r.covered, r.n_intervals)
        for r in interval_union_length(
            df, ["k"], "s", "e", tiebreak_col="iid"
        ).collect()
    }
    want: dict[str, set[int]] = {}
    counts: dict[str, int] = {}
    for k, _i, s, e in rows:
        want.setdefault(k, set()).update(range(s, e))
        counts[k] = counts.get(k, 0) + 1
    assert got == {k: (len(cells), counts[k]) for k, cells in want.items()}


# -- weighted_median: window threshold ≡ brute lower median ------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["x", "y"]),
            st.integers(-20, 20),
            st.integers(1, 500),  # weight in 0.01 steps, strictly > 0
        ),
        min_size=1,
        max_size=30,
    )
)
def test_weighted_median_matches_bruteforce(spark, raw):
    """w_median is the smallest value whose cumulative scaled weight in
    (value, id) order reaches half the key total — duplicate values and
    ties included."""
    from shmr_spark.operators.ranking import weighted_median

    rows = [(k, i, v, w / 100.0) for i, (k, v, w) in enumerate(raw)]
    df = spark.createDataFrame(rows, "k string, iid long, v long, w double")
    got = {
        r.k: (r.w_median, r.total_weight_scaled)
        for r in weighted_median(
            df, ["k"], "v", "w", tiebreak_cols=["iid"]
        ).collect()
    }
    want = {}
    for k in {r[0] for r in rows}:
        mine = sorted((v, i) for kk, i, v, _w in rows if kk == k)
        ws = {i: int(w * 100 + 0.5) for kk, i, _v, w in rows if kk == k}
        tot = sum(ws.values())
        cum = 0
        for v, i in mine:
            cum += ws[i]
            if 2 * cum >= tot:
                want[k] = (v, tot)
                break
    assert got == want


# -- asof_join: union-scan carry ≡ brute-force boundary pick -----------------


@settings(max_examples=4, deadline=None)
@given(
    st.lists(  # left rows: (id, key, ts) — ts range tiny to force collisions
        st.tuples(st.integers(0, 99), st.sampled_from(["k1", "k2"]), st.integers(0, 8)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    st.lists(  # right rows: (rid, key, ts, value)
        st.tuples(
            st.integers(0, 99),
            st.sampled_from(["k1", "k2"]),
            st.integers(0, 8),
            st.integers(0, 1000),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
)
def test_asof_join_matches_bruteforce_all_configs(spark, lrows, rrows):
    """For every (direction, inclusive) combination the carried value
    equals the brute-force boundary pick — latest-tiebreak-wins at
    equal right_ts — under heavy timestamp collisions on BOTH sides,
    the regime where the union-scan's side/tiebreak ordering does all
    the work."""
    from shmr_spark.operators import asof_join

    left = spark.createDataFrame(lrows, "eid long, k string, ts long")
    right = spark.createDataFrame(rrows, "rid long, k string, ts long, value long")

    for direction in ("backward", "forward"):
        for inclusive in (False, True):
            got = {
                r.eid: r.value_asof
                for r in asof_join(
                    left,
                    right,
                    on="k",
                    left_ts="ts",
                    right_ts="ts",
                    right_cols=["value"],
                    inclusive=inclusive,
                    tiebreak="rid",
                    direction=direction,
                ).collect()
            }
            want = {}
            for eid, k, lts in lrows:
                if direction == "backward":
                    cand = [
                        (rts, rid, v)
                        for rid, rk, rts, v in rrows
                        if rk == k and (rts <= lts if inclusive else rts < lts)
                    ]
                    pick = max(cand) if cand else None
                else:
                    cand = [
                        (-rts, rid, v)
                        for rid, rk, rts, v in rrows
                        if rk == k and (rts >= lts if inclusive else rts > lts)
                    ]
                    pick = max(cand) if cand else None  # min ts, max rid
                want[eid] = pick[2] if pick else None
            assert got == want, (direction, inclusive)


# -- interval_self_join: binned equi-join ≡ all-pairs within tolerance -------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["p", "q"]),
            st.integers(0, 50_000_000),  # microseconds
        ),
        min_size=2,
        max_size=25,
    ),
    st.sampled_from([1_000_000, 3_000_000, 7_500_000]),
)
def test_interval_self_join_finds_all_pairs(spark, raw, tol):
    """The 3-bin fan-out misses NO qualifying pair and invents none:
    result set == brute-force {(key, a, b): |ts_a - ts_b| <= tol},
    including pairs that straddle a bin boundary (the off-by-one
    hotspot the fan-out exists for)."""
    from shmr_spark.operators.interval import interval_self_join

    rows = [(k, i, us) for i, (k, us) in enumerate(raw)]
    df = (
        spark.createDataFrame(rows, "k string, iid long, us long")
        .withColumn("ts", F.timestamp_micros("us"))
        .drop("us")
    )
    got = {
        (r.k, r.iid_a, r.iid_b): r.gap_us
        for r in interval_self_join(
            df, key_col="k", ts_col="ts", id_col="iid", tolerance_us=tol
        ).collect()
    }
    want = {
        (ka, ia, ib): abs(ua - ub)
        for ka, ia, ua in rows
        for kb, ib, ub in rows
        if ka == kb and ia < ib and abs(ua - ub) <= tol
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.integers(-(2**50), 2**50),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    st.integers(1, 12),
)
def test_missing_ranges_matches_python_oracle(spark, keys, n_parts):
    """The rank-space gap detection (round 11: sampled range
    partitions + boundary stitch) equals the pure-Python sorted-scan
    definition for random key sets — including the huge-magnitude
    outliers that collapsed the old value-space cells — at any
    partition count. Duplicate inputs reduce to the distinct set."""
    from shmr_spark.operators.validate import missing_ranges

    df = spark.createDataFrame([(k,) for k in keys + keys[:3]], "id long")
    got = {
        (r.gap_start, r.gap_end, r.n_missing)
        for r in missing_ranges(df, "id", num_partitions=n_parts).collect()
    }
    want = set()
    ks = sorted(set(keys))
    for a, b in zip(ks, ks[1:]):
        if b - a > 1:
            want.add((a + 1, b - 1, b - a - 1))
    assert got == want


# -- corpus-statistical quality tier: LM + repetition vs brute force ---------


_tok = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters=" ", exclude_categories=("Cs", "Cc")
    ),
    min_size=1,
    max_size=4,
)
_doc = st.lists(_tok, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=10))
def test_bigram_lm_and_repetition_match_bruteforce(spark, texts):
    """On arbitrary unicode corpora (repeats, 1-token docs, non-ASCII
    tokens): bigram_lm_scores ≡ the add-one LM computed brute-force
    (same floor quantization, tolerance one quantum), and
    repetition_metrics' ratios are bit-exact int/int divisions."""
    import math
    from collections import Counter

    from shmr_spark.functions.lm import bigram_lm_scores, repetition_metrics

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    uni = Counter()
    big = Counter()
    toks_by_doc = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        toks_by_doc[i] = toks
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    vocab_size = len(uni)

    got_lm = {
        r.doc_id: (r.n_bigrams, r.avg_neg_logp)
        for r in bigram_lm_scores(docs).collect()
    }
    got_rep = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    assert set(got_rep) == set(toks_by_doc)

    for i, toks in toks_by_doc.items():
        bgs = list(zip(toks, toks[1:]))
        if not bgs:
            assert i not in got_lm
        else:
            s = sum(
                math.floor(
                    -math.log((big[bg] + 1) / (uni[bg[0]] + vocab_size)) * 1e6
                    + 0.5
                )
                for bg in bgs
            )
            n_bigrams, avg = got_lm[i]
            assert n_bigrams == len(bgs)
            assert abs(avg - (s / 1e6) / len(bgs)) < 2e-6

        tc, bc = Counter(toks), Counter(bgs)
        r = got_rep[i]
        assert r.n_tokens == len(toks)
        assert r.dup_token_frac == (len(toks) - len(tc)) / len(toks)
        assert r.top_token_frac == max(tc.values()) / len(toks)
        assert r.top_bigram_frac == (
            max(bc.values()) / sum(bc.values()) if bc else 0.0
        )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_doc, min_size=1, max_size=10),
    st.lists(st.booleans(), min_size=10, max_size=10),
)
def test_dsir_logweights_match_bruteforce(spark, texts, flags):
    """On arbitrary unicode corpora with an arbitrary target split
    (including all-target and empty-target — add-one smoothing keeps
    every ratio finite): dsir_logweights ≡ the brute-force estimator
    with the same floor quantization, tolerance one quantum per
    distinct token."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from shmr_spark.functions.dsir import dsir_logweights

    rows = [
        (i, bool(flags[i]), t) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, is_t boolean, text string"
    )
    cr, ct = Counter(), Counter()
    for _, is_t, t in rows:
        toks = t.split(" ")
        cr.update(toks)
        if is_t:
            ct.update(toks)
    v, nr, nt = len(cr), sum(cr.values()), sum(ct.values())

    got = {
        r.doc_id: (r.n_tokens, r.logweight)
        for r in dsir_logweights(docs, F.col("is_t")).collect()
    }
    assert set(got) == {i for i, _, _ in rows}
    for i, _, t in rows:
        toks = t.split(" ")
        s = 0
        for tok, cnt in Counter(toks).items():
            term = math.log((ct[tok] + 1) / (nt + v)) - math.log(
                (cr[tok] + 1) / (nr + v)
            )
            s += math.floor(term * 1e6 + 0.5) * cnt
        n_tokens, logweight = got[i]
        assert n_tokens == len(toks)
        assert abs(logweight - s / 1e6) < 2e-6


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_doc, min_size=1, max_size=10),
    st.lists(st.booleans(), min_size=10, max_size=10),
)
def test_dsir_hashed_logweights_match_bruteforce(spark, texts, flags):
    """The hashed-feature estimator (hash_buckets=B) on arbitrary
    unicode corpora, in BOTH feature modes (ngrams=1 token features,
    ngrams=2 token+adjacent-bigram features — the paper's full set):
    every feature maps to md5_60bits mod B (B=7, deliberately tiny so
    arbitrary inputs collide) and the estimator runs over bucket
    counts — mirrored brute-force in Python with hashlib.md5 over the
    feature's UTF-8 bytes, which is exactly what Spark's md5()
    hashes. n_tokens must count TOKENS in both modes."""
    import hashlib
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from shmr_spark.functions.dsir import dsir_logweights

    B = 7

    def bucket(feat: str) -> int:
        return int(hashlib.md5(feat.encode("utf-8")).hexdigest()[:15], 16) % B

    def features(t: str, ngrams: int) -> list[int]:
        toks = t.split(" ")
        feats = list(toks)
        if ngrams == 2:
            feats += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [bucket(f) for f in feats]

    rows = [(i, bool(flags[i]), t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, is_t boolean, text string"
    )
    for ngrams in (1, 2):
        cr, ct = Counter(), Counter()
        for _, is_t, t in rows:
            feats = features(t, ngrams)
            cr.update(feats)
            if is_t:
                ct.update(feats)
        v, nr, nt = len(cr), sum(cr.values()), sum(ct.values())

        got = {
            r.doc_id: (r.n_tokens, r.logweight)
            for r in dsir_logweights(
                docs, F.col("is_t"), hash_buckets=B, ngrams=ngrams
            ).collect()
        }
        assert set(got) == {i for i, _, _ in rows}
        for i, _, t in rows:
            s = 0
            for feat, cnt in Counter(features(t, ngrams)).items():
                term = math.log((ct[feat] + 1) / (nt + v)) - math.log(
                    (cr[feat] + 1) / (nr + v)
                )
                s += math.floor(term * 1e6 + 0.5) * cnt
            n_tokens, logweight = got[i]
            assert n_tokens == len(t.split(" "))
            assert abs(logweight - s / 1e6) < 2e-6


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_doc, min_size=2, max_size=10),
    st.lists(st.booleans(), min_size=10, max_size=10),
    st.lists(st.integers(min_value=0, max_value=2), min_size=10, max_size=10),
)
def test_nb_classifier_matches_bruteforce(spark, texts, train_flags, labels):
    """On arbitrary unicode corpora with arbitrary class labels and
    an arbitrary train/held-out split: nb_classify ≡ a brute-force
    multinomial NB with the same add-one smoothing, floor-quantized
    int64 scoring, and (score desc, class asc) tie rule — in raw and
    hashed (B=7, collisions guaranteed) feature modes. Skips the
    degenerates the operator can't serve (no train docs, or no
    held-out docs), which hypothesis would otherwise spend examples
    on."""
    import hashlib
    import math
    from collections import Counter

    from hypothesis import assume
    from pyspark.sql import functions as F

    from shmr_spark.functions.nb import nb_classify

    rows = [
        (i, f"c{labels[i]}", bool(train_flags[i]), t)
        for i, t in enumerate(texts)
    ]
    assume(any(tr for _, _, tr, _ in rows))
    assume(any(not tr for _, _, tr, _ in rows))
    docs = spark.createDataFrame(
        rows, "doc_id long, cls string, is_tr boolean, text string"
    )

    B = 7

    def md5_bucket(feat: str) -> int:
        return int(hashlib.md5(feat.encode("utf-8")).hexdigest()[:15], 16) % B

    for hash_buckets in (None, B):
        feat_of = (lambda t: t) if hash_buckets is None else md5_bucket
        cc: Counter = Counter()
        pri: Counter = Counter()
        for _, cls, is_tr, t in rows:
            if is_tr:
                pri[cls] += 1
                for tok in t.split(" "):
                    cc[(feat_of(tok), cls)] += 1
        ns: Counter = Counter()
        for (_, cls), c in cc.items():
            ns[cls] += c
        v = len({f for f, _ in cc})
        d = sum(pri.values())

        def score(t, cls):
            s = math.floor(math.log(pri[cls] / d) * 1e6 + 0.5)
            for feat, cnt in Counter(map(feat_of, t.split(" "))).items():
                lik = math.log((cc[(feat, cls)] + 1) / (ns[cls] + v))
                s += math.floor(lik * 1e6 + 0.5) * cnt
            return s

        want = {}
        for i, _, is_tr, t in rows:
            if not is_tr:
                best = min((-score(t, c), c) for c in sorted(pri))
                want[i] = (best[1], -best[0] / 1e6)

        got = {
            r.doc_id: (r.pred, r.score)
            for r in nb_classify(
                docs, "cls", F.col("is_tr"), hash_buckets=hash_buckets
            ).collect()
        }
        assert set(got) == set(want), f"hash_buckets={hash_buckets}"
        for i, (pred, sc) in want.items():
            assert got[i][0] == pred, f"doc {i} hash_buckets={hash_buckets}"
            assert abs(got[i][1] - sc) < 2e-6, f"doc {i}"


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_doc, min_size=2, max_size=10),
    st.lists(st.integers(min_value=0, max_value=3), min_size=10, max_size=10),
)
def test_source_unigram_kl_matches_bruteforce(spark, texts, srcs):
    """On arbitrary unicode corpora with arbitrary source labels:
    source_unigram_kl ≡ the brute-force quantized KL (same
    floor-quantized int64 term sum and exact final division), and
    every KL is ≥ −(one quantum) with the single-source case exactly
    0 (every term ln(1) → q = 0)."""
    import math
    from collections import Counter

    from shmr_spark.functions.lm import source_unigram_kl

    rows = [(i, f"s{srcs[i]}", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    by_src: dict = {}
    for _, src, t in rows:
        by_src.setdefault(src, Counter()).update(t.split(" "))
    corpus: Counter = Counter()
    for c in by_src.values():
        corpus.update(c)
    nn = sum(corpus.values())

    got = {r.source: r for r in source_unigram_kl(docs).collect()}
    assert set(got) == set(by_src)
    for src, cnt in by_src.items():
        n = sum(cnt.values())
        sq = sum(
            c * math.floor(math.log((c * nn) / (n * corpus[t])) * 1e6 + 0.5)
            for t, c in cnt.items()
        )
        r = got[src]
        assert (r.n_tokens, r.vocab_size) == (n, len(cnt))
        assert abs(r.kl_vs_corpus - sq / 1e6 / n) < 2e-6
        assert r.kl_vs_corpus >= -1e-6
        if len(by_src) == 1:
            assert r.kl_vs_corpus == 0.0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_doc, min_size=2, max_size=8),
    st.lists(st.integers(min_value=0, max_value=2), min_size=8, max_size=8),
)
def test_cross_source_overlap_matches_bruteforce(spark, texts, srcs):
    """On arbitrary unicode corpora with arbitrary source labels:
    cross_source_overlap ≡ brute-force per-source distinct-8-gram set
    intersections (short docs contribute their whole text as one
    gram), with exact counts and Jaccard. Patches the query module's
    load_table by hand — hypothesis forbids the function-scoped
    monkeypatch fixture."""
    from itertools import combinations

    import shmr_spark.queries.text as qt

    rows = [(i, f"s{srcs[i]}", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    grams: dict = {}
    for _, src, t in rows:
        toks = t.split(" ")
        g = (
            {" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)}
            if len(toks) >= 8
            else {t}
        )
        grams.setdefault(src, set()).update(g)
    want = {}
    for a, b in combinations(sorted(grams), 2):
        shared = len(grams[a] & grams[b])
        if shared:
            want[(a, b)] = (
                shared,
                len(grams[a]),
                len(grams[b]),
                shared / (len(grams[a]) + len(grams[b]) - shared),
            )

    orig = qt.load_table
    qt.load_table = lambda s, d, t: docs
    try:
        got = {
            (r.source_a, r.source_b): (
                r.n_shared,
                r.n_grams_a,
                r.n_grams_b,
                r.jaccard,
            )
            for r in qt.cross_source_overlap(spark, "unused").collect()
        }
    finally:
        qt.load_table = orig
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=10_000),
        min_size=1,
        max_size=20,
        unique=True,
    ),
    st.data(),
)
def test_weighted_sample_matches_bruteforce(spark, ids, data):
    """On arbitrary id sets with arbitrary positive weights spanning
    nine orders of magnitude (including weights far past the scale
    where quantizing the QUOTIENT would collapse every key to 0):
    weighted_sample ≡ the brute-force A-ES replay (md5-uniform,
    floor-quantized ln(u), full-precision divide, (es_key desc, id)
    top-k) at every k from 1 to beyond the corpus size."""
    import hashlib
    import math

    from shmr_spark.operators.sampling import weighted_sample

    ws = [
        data.draw(st.floats(min_value=0.01, max_value=1e9)) for _ in ids
    ]
    rows = list(zip(ids, ws))
    df = spark.createDataFrame(rows, "id long, w double")

    def es_key(key: int, w: float) -> float:
        b = int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16) % 1_048_576
        return math.floor(math.log((b + 0.5) / 1_048_576.0) * 1e6 + 0.5) / w

    ranked = sorted(rows, key=lambda t: (-es_key(t[0], t[1]), t[0]))
    for k in (1, len(rows) // 2 or 1, len(rows) + 5):
        got = weighted_sample(df, "id", "w", k=k).collect()
        assert [(r.id, r.w) for r in got] == ranked[:k]
