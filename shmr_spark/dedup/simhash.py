"""SimHash near-duplicate detection.

simhash64: per doc, hash each token (xxhash64), then for each of the
64 bit positions take the majority vote across token hashes; the
64 votes assemble into one long. Entirely nested array expressions —
token hashes are computed once into an array, each bit's vote is a
``size(filter(...))``, and the assembly is a fold over bit positions.
No explode (no |tokens|×64 row blowup), no UDF, no shuffle.

Candidate generation at scale blocks on the 4 16-bit chunks of the
signature (near-dups at Hamming distance ≤ 3 must agree on at least
one chunk — pigeonhole), then verifies with ``bit_count(a ^ b)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shmr_spark.session import materialize

# Nested higher-order functions are expressed via SQL strings: the
# inner lambda captures the outer lambda's variable, which the Python
# Column lambda API cannot express.
_SIMHASH_EXPR = """
aggregate(
  sequence(0, 63),
  0L,
  (acc, b) -> acc + IF(
      2 * size(filter({hashes}, h -> ((h >> b) & 1L) = 1L)) >= size({hashes}),
      shiftleft(1L, b), 0L)
)
"""


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash of whitespace tokens (long)."""
    col = text if isinstance(text, str) else None
    if col is None:
        raise ValueError("simhash64 takes a column NAME (built via expr)")
    hashes = f"transform(split({col}, ' '), t -> xxhash64(t))"
    return F.expr(_SIMHASH_EXPR.format(hashes=hashes))


def simhash_chunks(sig: Column | str, n_chunks: int = 4, n_bits: int = 64) -> Column:
    """Split an n_bits signature into n equal-width chunks
    (array<long>) for exact-match blocking."""
    c = F.col(sig) if isinstance(sig, str) else sig
    width = n_bits // n_chunks
    mask = (1 << width) - 1
    return F.array(
        *(
            F.shiftrightunsigned(c, i * width).bitwiseAND(F.lit(mask)).cast("long")
            for i in range(n_chunks)
        )
    )


def simhash60_md5(text_col: str) -> Column:
    """Cross-engine SimHash: 60-bit token hash from the first 15 hex
    chars of md5 (both Spark and DuckDB compute md5 identically), then
    the same per-bit majority vote as simhash64. Exists so the driver
    gate can hash-compare against a DuckDB twin; xxhash64-based
    simhash64 remains the production default (one hash op per token
    instead of md5 + hex-parse)."""
    hashes = (
        f"transform(split({text_col}, ' '), "
        "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
    )
    expr = _SIMHASH_EXPR.replace("sequence(0, 63)", "sequence(0, 59)")
    return F.expr(expr.format(hashes=hashes))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    signature: Column | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash: chunk-block candidates, verify with
    bit_count(xor) ≤ max_hamming. Returns (id_a, id_b, hamming).

    Pigeonhole guarantee: distance ≤ 3 over 4 chunks ⇒ ≥ 1 identical
    chunk, so blocking finds every qualifying pair.

    ``signature``/``n_bits`` swap in an alternative signature column
    (e.g. simhash60_md5 for the cross-engine driver gate); the
    blocking and verify machinery is identical."""
    sig_col = signature if signature is not None else simhash64(text_col)
    # the chunk self-join reuses both sides
    sigs = materialize(df.select(F.col(id_col).alias("__id"), sig_col.alias("sig")))
    chunked = sigs.select(
        "__id",
        "sig",
        F.posexplode(simhash_chunks("sig", n_bits=n_bits)).alias(
            "chunk_idx", "chunk_val"
        ),
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
