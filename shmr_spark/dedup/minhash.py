"""MinHash + LSH near-duplicate detection, Spark-first.

Pipeline (shingle → minhash → band → bucket-join → verify):

1. ``shingle_ngrams`` — token n-gram shingles as one array expression
   (no explode): codegen'd, computed inside the scan stage.
2. ``minhash_signature`` — k minhashes, each ``array_min`` over
   seed-perturbed xxhash64 of the shingles. Still zero shuffles: the
   signature is a per-row array<long>.
3. ``lsh_candidates`` — split the signature into b bands of r rows,
   hash each band, explode ONLY the b (band_id, band_hash) pairs
   (b ≈ 16 rows per doc, not |shingles| rows), self-join on the band
   bucket → candidate pairs. This is the scale path: the shuffle
   carries b small rows per doc and the join explodes only true
   bucket collisions.
4. ``minhash_near_duplicates`` — verify candidates with Jaccard over
   the xxhash64-hashed shingle sets (exact up to ~2^-64 hash
   collisions; see the note at the verify join) and filter by
   threshold.

Banding math: P(candidate) = 1 - (1 - j^r)^b — with k=64, b=16, r=4
the S-curve midpoint sits near j ≈ 0.5.

Everything is deterministic (xxhash64, fixed seeds) — rows-only
oracle checks are stable across runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shmr_spark.session import materialize


def shingle_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct token n-gram shingles of a text column, as
    array<string>. Documents shorter than n tokens yield their full
    token sequence as one shingle.

    Built as a zip_with chain over shifted copies of the token array —
    O(tokens) work. (The naive transform(sequence)+slice formulation
    re-slices per position = O(tokens²) interpreted work; measured 7×
    slower at sf0.1.) zip_with pads the shorter side with nulls;
    null-propagating concat + array_compact drops the tail stubs."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    grams = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, 2_000_000_000)
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = F.array_compact(grams)
    joined = F.array_join(toks, " ")
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(joined))
    )


# Universal-hash family mod the Mersenne prime 2^31-1: each shingle is
# string-hashed ONCE (the expensive op), then the k "hash functions"
# are cheap linear transforms h_i = (a_i·h + b_i) mod p of that base —
# the textbook MinHash construction. Products stay < 2^62, so ANSI
# long arithmetic cannot overflow. Constants are fixed-seed.
_P = 2147483647
_rng = __import__("random").Random(42)
_AB = [(_rng.randrange(1, _P), _rng.randrange(_P)) for _ in range(256)]


def _linear(i: int):
    # Single-parameter lambda on purpose: a two-parameter lambda would
    # make F.transform pass the ARRAY INDEX as the second argument.
    a, b = _AB[i]
    return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P))


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature (array<long>, length num_hashes): hash i is
    min over shingles of (a_i·xxhash64(shingle) + b_i) mod p. Pure
    expression — no explode, no shuffle, no UDF. Note: higher-order
    function lambdas are interpreted, not codegen'd — for bulk
    signature computation prefer minhash_signatures_df (explode +
    codegen'd min aggregates; same values)."""
    if num_hashes > len(_AB):
        raise ValueError(f"num_hashes > {len(_AB)} not supported")
    base = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
    return F.array(
        *(
            F.array_min(F.transform(base, _linear(i)))
            for i in range(num_hashes)
        )
    )


def minhash_signatures_df(
    sh_df: DataFrame,
    id_col: str = "__id",
    shingles_col: str = "__sh",
    num_hashes: int = 64,
) -> DataFrame:
    """Bulk (id, sig) signatures via explode → codegen'd min
    aggregates — identical values to minhash_signature but the hot
    loop is whole-stage-codegen'd primitive ops instead of interpreted
    array lambdas (~2× faster at sf0.1). Costs one shuffle on the id;
    rows whose shingle array is empty/null vanish (none are produced
    by shingle_ngrams).

    Accepts raw string shingles (array<string>) OR pre-hashed
    shingles (array<long> of xxhash64 values): pmod over the
    precomputed hash yields bit-identical signatures to the string
    path, and hashing each shingle exactly once — in the shared
    shingle frame, where the verify join then ships 8-byte longs
    instead of n-gram strings — cut the 100×-corpus total exchange
    13.34 → 8.96 GB and wall 203 → 153 s (AUDIT_100X_LLM.json)."""
    if num_hashes > len(_AB):
        raise ValueError(f"num_hashes > {len(_AB)} not supported")
    from pyspark.sql.types import LongType

    elem = sh_df.schema[shingles_col].dataType.elementType
    ex = sh_df.select(F.col(id_col), F.explode(shingles_col).alias("__s")).withColumn(
        "__h",
        F.pmod(
            F.col("__s") if isinstance(elem, LongType) else F.xxhash64("__s"),
            F.lit(_P),
        ),
    )
    # the k aggregates are built as ONE parsed expression string each
    # (not nested Column operators): every Column operator is a py4j
    # round trip, and k=64 aggs × ~6 operators cost ~0.7 s of driver
    # time PER CONSTRUCTION — measured 0.66-0.71 s Column-API vs
    # 0.10-0.14 s expr-string at k=64, bit-identical signatures (the
    # integer literals promote to long against __h exactly as F.lit
    # did). This is plan-BUILD cost: composed pipelines rebuild this
    # frame per invocation, so it was ~10% of pipeline_e2e's warm wall.
    mins = ex.groupBy(id_col).agg(
        *(
            F.expr(f"min(pmod(__h * {a}L + {b}L, {_P}L)) AS __m{i}")
            for i, (a, b) in enumerate(_AB[:num_hashes])
        )
    )
    return mins.select(
        id_col,
        F.expr(
            "array(" + ",".join(f"__m{i}" for i in range(num_hashes)) + ") AS sig"
        ),
    )


def band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 16,
) -> DataFrame:
    """(__id, band, bh) rows — ``bands`` small rows per document, the
    join-ready LSH band table (~20 bytes × bands per doc). Not pinned:
    the band self-join's two sides shuffle the same plan on the same
    keys, so Spark reuses one exchange for both, and
    minhash_candidate_pairs pins the candidate pairs it yields. This
    is also the table an append-only near-dup STATE persists
    (bucketed by (band, bh)) so ingest batches join against it
    without recomputing history."""
    r = F.floor(F.size(sig_col) / bands).cast("int")
    return (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(
                            F.array_join(F.slice(F.col(sig_col), b * r + 1, r), ",")
                        ).alias("bh"),
                    ),
                )
            ).alias("bb"),
        )
        .select("__id", "bb.band", "bb.bh")
    )


def lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 16,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) whose signatures collide in at
    least one LSH band. Input: one row per doc with a minhash
    signature; output: distinct candidate id pairs.

    The only wide ops are the band-bucket self-join (shuffle on
    band hash — uniformly distributed, skew-free) and the final
    distinct."""
    banded = band_rows(df, id_col, sig_col, bands)
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The banding half of the near-dup pipeline: returns
    ``(shingles, candidates)`` where shingles is (__id, __sh) with
    pinned lineage and candidates is the distinct banded pair set.
    Split out so a caller measuring banding selectivity (bench's
    candidate/verified pair counts) can act on the candidate frame
    AND feed the same frame to the verify stage — both frames are
    pinned (``session.materialize``), so the shingle→signature→band
    pipeline runs once per session, not once per consumer.

    The shared shingle frame carries xxhash64(shingle) longs, not the
    raw n-gram strings: Jaccard over the hashed sets equals Jaccard
    over the string sets up to a ~2⁻⁶⁴-per-pair collision (fixed-seed
    deterministic; the gate's all-pairs DuckDB oracle verifies value
    equality on real corpora), signatures are bit-identical (the
    string was being xxhash64'd anyway — now exactly once), and the
    verify join's pair exchange ships 8 bytes per shingle instead of
    a ~25-byte n-gram — measured at the 100× corpus: total exchange
    13.34 → 8.96 GB, wall 203 → 153 s (AUDIT_100X_LLM.json)."""
    hashed = F.transform(shingle_ngrams(text_col, shingle_size), lambda s: F.xxhash64(s))
    # reused by signatures AND both verify sides
    sh = materialize(df.select(F.col(id_col).alias("__id"), hashed.alias("__sh")))
    sigs = minhash_signatures_df(sh, "__id", "__sh", num_hashes)
    # reused by a selectivity count AND the verify join
    cands = materialize(lsh_candidates(sigs, "__id", "sig", bands))
    return sh, cands


def verify_jaccard_pairs(
    sh: DataFrame, cands: DataFrame, threshold: float
) -> DataFrame:
    """Jaccard verification of candidate pairs against the shingle
    frame — exact up to xxhash64 collisions: the sets are hashed
    shingles (see minhash_candidate_pairs), so a ~2⁻⁶⁴-per-pair
    collision could in principle flip a threshold-boundary pair
    relative to a string-set computation. Output: (id_a, id_b,
    jaccard ≥ threshold). Ships shingle arrays only for candidate ids
    (semi-join pruned), not the whole corpus — and the arrays are
    longs, so the pair-side exchange that carries one doc's set to
    meet the other's costs 8 bytes per shingle.

    Precondition: the ``__sh`` arrays must be DUPLICATE-FREE (as
    every in-repo producer guarantees via array_distinct) — the
    size-ratio prune below compares size() counts against
    deduplicating set ops, so repeated elements could make it drop a
    true-positive pair."""
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    sa = F.size("sh_a").cast("double")
    sb = F.size("sh_b").cast("double")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    # |A∪B| = |A|+|B|−|A∩B| for duplicate-free sets — the identity
    # removes the O(|A|+|B|) array_union hash pass entirely (the
    # verify join's per-pair work halves). Exact in doubles (set
    # sizes ≪ 2^53), so jaccard is bit-identical to the array_union
    # formulation under the same duplicate-free precondition.
    union = sa + sb - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        # EXACT size-ratio prune before the O(|A|+|B|) set ops:
        # |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
        # j ≤ min/max — a pair failing min ≥ t·max cannot reach the
        # threshold and skips intersect/union entirely. No result
        # change (the bound is an inequality on the same hashed
        # sets); measured at sf0.1: neutral in the 16-band prod shape
        # (candidates ≈ true pairs, nothing to prune) and −39% wall
        # in the wide-banding gate shape (496k candidates → 233k
        # survive the size test, 256 verify). At corpus scale this is
        # the candidates-vs-true-pairs gap banding always has.
        .filter(F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb))
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """End-to-end near-dup pairs: LSH candidates verified with exact
    Jaccard over shingle sets; returns (id_a, id_b, jaccard ≥
    threshold)."""
    sh, cands = minhash_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_size
    )
    return verify_jaccard_pairs(sh, cands, threshold)
