"""Text-analysis + dedup queries over the documents table — the
LLM-data-pipeline extensions (BASELINE.json north star): token stats,
language-ID, quality scoring, fingerprinting, exact dedup.

Near-dup (MinHash/SimHash) queries live in queries/vectors.py-adjacent
modules with rows-only oracles; everything here is SQL-expressible and
hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.dataset import Dataset
from shmr_spark.functions.hashing import fingerprint_md5
from shmr_spark.functions.numeric import davg, sql_davg
from shmr_spark.functions.text import (
    bpe_token_estimate,
    lang_id,
    marker_count,
    quality_score,
    sql_lang_id,
    sql_marker_count,
    sql_quality_score,
    sql_token_count,
    sql_token_count_re,
    token_count,
    token_count_re,
    tokens,
    LANG_MARKERS,
)
from shmr_spark.queries import query
from shmr_spark.session import materialize

# --------------------------------------------------------------------------
# Per-language corpus stats.
# --------------------------------------------------------------------------


@query(
    "text_stats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {sql_davg(sql_token_count('text'))} AS avg_tokens
FROM documents GROUP BY lang ORDER BY lang
""",
    headline=True,
)
def text_stats(spark, sf_dir):
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    return (
        docs.reduce_by_key(
            ["lang"],
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            davg(token_count("text").cast("double")).alias("avg_tokens"),
        )
        # one row per language (bounded domain) at any SF: bounded
        # sort — orderBy would add a range-partitioning exchange plus
        # its bounds-sampling job for a handful of rows
        .sort_small("lang")
        .df
    )


# --------------------------------------------------------------------------
# Per-document token counting (whitespace + BPE-ish estimate).
# --------------------------------------------------------------------------


@query(
    "token_count",
    oracle=f"""
SELECT doc_id,
       {sql_token_count('text')} AS n_tokens,
       {sql_token_count_re('text')} AS n_tokens_re,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(ceil(length(text) / 4) AS BIGINT) AS n_bpe_est
FROM documents
""",
)
def token_count_q(spark, sf_dir):
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    return docs.map(
        doc_id=F.col("doc_id"),
        n_tokens=token_count("text"),
        n_tokens_re=token_count_re("text"),
        n_chars_calc=F.length("text").cast("long"),
        n_bpe_est=bpe_token_estimate("text"),
    ).df


# --------------------------------------------------------------------------
# Language-ID heuristic (marker-word vote) vs the labeled lang column.
# --------------------------------------------------------------------------


@query(
    "lang_id",
    oracle=f"""
SELECT doc_id, lang,
       {sql_lang_id('text')} AS lang_pred,
       {sql_marker_count('text', LANG_MARKERS['en'])} AS en_markers
FROM documents
""",
)
def lang_id_q(spark, sf_dir):
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    return docs.map(
        doc_id=F.col("doc_id"),
        lang=F.col("lang"),
        lang_pred=lang_id("text"),
        en_markers=marker_count("text", LANG_MARKERS["en"]),
    ).df


# --------------------------------------------------------------------------
# Quality scoring.
# --------------------------------------------------------------------------


@query(
    "quality_score",
    oracle=f"""
SELECT doc_id, {sql_quality_score('text')} AS quality FROM documents
""",
)
def quality_score_q(spark, sf_dir):
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    return docs.map(doc_id=F.col("doc_id"), quality=quality_score("text")).df


# --------------------------------------------------------------------------
# Fingerprinting: whole-doc md5 + winnowing-style min-shingle hash.
# --------------------------------------------------------------------------


@query(
    "fingerprint_docs",
    oracle=r"""
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents
""",
)
def fingerprint_docs(spark, sf_dir):
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    return docs.map(doc_id=F.col("doc_id"), fp=fingerprint_md5("text")).df


@query(
    "fingerprint_winnow",
    oracle="""
SELECT doc_id,
       list_min(list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                               i -> md5(substr(text, i, 5)))) AS fp
FROM documents
""",
)
def fingerprint_winnow(spark, sf_dir):
    """Rolling-hash fingerprint: min md5 over all 5-char shingles — the
    winnowing primitive, as one codegen'd array expression (no explode,
    no shuffle)."""
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    fp = F.expr(
        "array_min(transform(sequence(1, greatest(length(text) - 4, 1)),"
        " i -> md5(substring(text, i, 5))))"
    )
    return docs.map(doc_id=F.col("doc_id"), fp=fp).df


# --------------------------------------------------------------------------
# Exact dedup: group by content fingerprint, keep min doc_id.
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    headline=True,
    oracle=r"""
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
)
def dedup_exact(spark, sf_dir):
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    return (
        docs.with_columns(fp=fingerprint_md5("text"))
        .reduce_by_key(
            ["fp"],
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .df
    )


# --------------------------------------------------------------------------
# n-gram Jaccard similarity between a probe subset of documents.
# --------------------------------------------------------------------------


@query(
    "ngram_jaccard",
    oracle="""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS gs
  FROM documents WHERE doc_id < 30
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
       CAST(len(list_distinct(list_concat(a.gs, b.gs))) AS DOUBLE) AS jaccard
FROM grams a JOIN grams b ON a.doc_id < b.doc_id
""",
)
def ngram_jaccard(spark, sf_dir):
    """Token 3-gram Jaccard over all probe-doc pairs. At scale the
    pair space comes from LSH candidates (dedup.minhash), not a cross
    join; the probe subset keeps the oracle-checkable variant O(k²)."""
    docs = Dataset(load_table(spark, sf_dir, "documents"))
    grams = F.expr(
        "array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)),"
        " i -> concat(split(text, ' ')[i-1], ' ', split(text, ' ')[i], ' ',"
        " split(text, ' ')[i+1])))"
    )
    probe = (
        docs.filter(F.col("doc_id") < 30).map(doc_id=F.col("doc_id"), gs=grams).df
    )
    a = probe.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gs_a"))
    b = probe.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gs_b"))
    pairs = a.join(b, a.doc_a < b.doc_b)
    inter = F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
    union = F.size(F.array_distinct(F.concat("gs_a", "gs_b"))).cast("double")
    return pairs.select("doc_a", "doc_b", (inter / union).alias("jaccard"))


# --------------------------------------------------------------------------
# Train/test contamination: test-split documents whose bag-of-words
# fingerprint (sorted distinct token set) appears in the train split.
# The split here is the SQL-expressible doc_id % 5 variant so the
# whole pipeline is oracle-checked end-to-end.
# --------------------------------------------------------------------------

_BOW_FP_SQL = "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"


def _bow_fp_spark():
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
    )


@query(
    "contamination_check",
    oracle=f"""
SELECT t.doc_id AS test_doc, MIN(tr.doc_id) AS train_match, COUNT(*) AS n_matches
FROM (SELECT doc_id, {_BOW_FP_SQL} AS fp FROM documents WHERE doc_id % 5 = 0) t
JOIN (SELECT doc_id, {_BOW_FP_SQL} AS fp FROM documents WHERE doc_id % 5 <> 0) tr
  USING (fp)
GROUP BY t.doc_id
""",
)
def contamination_check(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select("doc_id", _bow_fp_spark().alias("fp"))
    test = with_fp.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("test_doc"), "fp"
    )
    train = with_fp.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("train_doc"), "fp"
    )
    return (
        test.join(train, "fp")
        .groupBy("test_doc")
        .agg(
            F.min("train_doc").alias("train_match"),
            F.count("*").alias("n_matches"),
        )
    )


# --------------------------------------------------------------------------
# Text cleaning: redaction + normalization (explicit ASCII regexes so
# Java and RE2 agree; 'g' flag in DuckDB for replace-all parity).
# --------------------------------------------------------------------------


@query(
    "clean_text",
    oracle=r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
                               ' +', ' ', 'g'))) AS clean_fp,
       CAST(length(regexp_replace(lower(text), '[0-9]+', '<num>', 'g')) AS BIGINT)
         AS clean_len
FROM documents
""",
)
def clean_text(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    redacted = F.regexp_replace(lowered, "[0-9]+", "<num>")
    collapsed = F.trim(F.regexp_replace(redacted, " +", " "))
    return docs.select(
        "doc_id",
        F.md5(collapsed).alias("clean_fp"),
        F.length(redacted).cast("long").alias("clean_len"),
    )


# --------------------------------------------------------------------------
# End-to-end near-dup corpus dedup: MinHash pairs → connected
# components → keep the min-id representative per cluster. Iterative
# (label propagation) ⇒ not SQL-expressible ⇒ rows-only gate;
# topology correctness is pinned in tests/test_clusters.py.
# --------------------------------------------------------------------------


# Shared oracle fragment: the exact-Jaccard >= 0.5 near-dup pair set
# over 3-gram shingles, as a POSTINGS self-join — |A∩B| comes from a
# (doc, gram) self-equi-join grouped by pair, |A∪B| = |A|+|B|-|A∩B|
# from per-doc gram counts. Row-identical to the all-pairs
# list_intersect form (a pair at threshold 0.5 shares >= 1 gram, so
# restricting to intersecting pairs drops nothing), but DuckDB runs
# it in seconds at sf0.1 where the 12.5M-pair list_intersect form
# took hours — that was the only reason five gates sat outside the
# round-9 sf0.1 parity sweep. string_split is hoisted out of the
# lambda too (DuckDB re-evaluates it per element otherwise).
NEARDUP_PAIRS_SQL = """toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents
), grams AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= 3 THEN
      list_distinct(list_transform(
        generate_series(1, len(tk) - 2),
        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
    ELSE [text] END AS gs
  FROM toks
), post AS (
  SELECT doc_id, unnest(gs) AS g FROM grams
), gsizes AS (
  SELECT doc_id, len(gs) AS c FROM grams
), ginter AS (
  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS i
  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT u, v, CAST(i AS DOUBLE) / CAST(sa.c + sb.c - i AS DOUBLE) AS jac
  FROM ginter JOIN gsizes sa ON sa.doc_id = u JOIN gsizes sb ON sb.doc_id = v
  WHERE CAST(i AS DOUBLE) / CAST(sa.c + sb.c - i AS DOUBLE) >= 0.5
)"""


@query(
    "dedup_corpus_neardup",
    oracle=f"""
WITH RECURSIVE {NEARDUP_PAIRS_SQL}, edges AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach (node, reached) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.node, e.v FROM reach r JOIN edges e ON r.reached = e.u
), comp AS (
  SELECT node, MIN(reached) AS comp FROM reach GROUP BY node
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)
ORDER BY doc_id
""",
)
def dedup_corpus_neardup(spark, sf_dir):
    """End-to-end near-dup dedup: MinHash pairs (single-row banding —
    equals the exact-Jaccard pair set, see dedup_minhash) -> iterative
    connected components -> keep the min-id representative per
    cluster. The oracle replays the same semantics in SQL: exact
    Jaccard edges + a recursive CTE computing min-reachable-node
    components. This puts the ITERATIVE label-propagation machinery
    itself under the driver's hash check."""
    from shmr_spark.dedup import minhash_near_duplicates
    from shmr_spark.dedup.clusters import dedup_keep_cluster_representative

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5, num_hashes=64, bands=64)
    survivors = dedup_keep_cluster_representative(docs, pairs)
    return survivors.select("doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# Document chunking: overlapping token windows (LLM context packing).
# DuckDB twin uses 1-based inclusive list slicing; Spark uses
# (start, length) slices — same windows.
# --------------------------------------------------------------------------


@query(
    "chunk_documents",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST((u.s - 1) / 24 AS INT) AS chunk_idx,
       array_to_string(toks[u.s : u.s + 31], ' ') AS chunk_text,
       CAST(len(toks[u.s : u.s + 31]) AS BIGINT) AS n_chunk_tokens
FROM t, unnest(generate_series(1, greatest(len(toks) - 8, 1), 24)) AS u(s)
""",
)
def chunk_documents_q(spark, sf_dir):
    from shmr_spark.functions.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=32, overlap=8)


# --------------------------------------------------------------------------
# Repetition ratio — the Gopher-style duplicate-n-gram quality signal.
# --------------------------------------------------------------------------


@query(
    "repetition_ratio",
    oracle="""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
                          i -> string_split(text, ' ')[i] || ' ' ||
                               string_split(text, ' ')[i+1] || ' ' ||
                               string_split(text, ' ')[i+2])
         ELSE [text] END AS grams
  FROM documents
)
SELECT doc_id,
       CAST(1.0 AS DOUBLE)
         - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
         AS dup_trigram_frac
FROM g
""",
)
def repetition_ratio(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = toks
    for i in range(1, 3):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, 2_000_000_000),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.when(F.size(toks) >= 3, F.array_compact(grams)).otherwise(
        F.array(F.col("text"))
    )
    frac = F.lit(1.0).cast("double") - (
        F.size(F.array_distinct(grams)).cast("double") / F.size(grams).cast("double")
    )
    return docs.select("doc_id", frac.alias("dup_trigram_frac"))


# --------------------------------------------------------------------------
# Corpus token frequencies (Zipf head): explode → count → top-k.
# --------------------------------------------------------------------------


@query(
    "token_frequencies",
    oracle="""
SELECT token, COUNT(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
) GROUP BY token
QUALIFY row_number() OVER (ORDER BY COUNT(*) DESC, token) <= 20
ORDER BY COUNT(*) DESC, token
""",
)
def token_frequencies(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# TF-IDF / BM25: top terms per probe document, rounded to 6 decimals
# for the hash (same discipline as cosine in queries/vectors.py).
# Cross-engine ln(): both engines evaluate ln once on IDENTICAL
# integer-derived operands, so a hash break needs a <1-ulp libm
# disagreement to straddle a 0.5e-6 rounding boundary; score ties in
# the top-k cut break deterministically by term on both sides.
# --------------------------------------------------------------------------


@query(
    "tfidf_top_terms",
    oracle="""
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n FROM documents)
SELECT doc_id, term, tf, df, tfidf FROM (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * (ln((n.n + 1) / (d.df + 1.0)) + 1.0), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY t.tf * (ln((n.n + 1) / (d.df + 1.0)) + 1.0) DESC, t.term
         ) AS rn
  FROM tf t JOIN dfreq d USING (term), n
) WHERE rn <= 5 AND doc_id < 50
""",
)
def tfidf_top_terms(spark, sf_dir):
    from shmr_spark.functions.tfidf import tfidf

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf(docs, top_k=5).withColumn("tfidf", F.round("tfidf", 6))
    return out.filter(F.col("doc_id") < 50).orderBy("doc_id", F.desc("tfidf"), "term")


@query(
    "bm25_top_terms",
    oracle="""
WITH docs AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM docs
)
SELECT doc_id, term, tf, df, bm25 FROM (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * dd.dl / s.avgdl)), 6) AS bm25,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                    * (t.tf * 2.2)
                    / (t.tf + 1.2 * (0.25 + 0.75 * dd.dl / s.avgdl)) DESC,
                    t.term
         ) AS rn
  FROM tf t JOIN dfreq d USING (term) JOIN docs dd USING (doc_id), stats s
) WHERE rn <= 5 AND doc_id < 50
""",
)
def bm25_top_terms(spark, sf_dir):
    """BM25 salient terms per probe document. avgdl is exact on both
    engines (integer doc lengths sum exactly in float64), so the only
    float divergence channel is ln() — handled by the 6-decimal
    rounding discipline."""
    from shmr_spark.functions.bm25 import bm25

    docs = load_table(spark, sf_dir, "documents")
    return (
        bm25(docs, top_k=5)
        .withColumn("bm25", F.round("bm25", 6))
        .filter(F.col("doc_id") < 50)
        .orderBy("doc_id", F.desc("bm25"), "term")
    )


# --------------------------------------------------------------------------
# Heavy hitters: exact frequent tokens via per-partition Misra-Gries
# sketch + candidate recount (operators/heavy_hitters.py). The sketch
# bounds memory; the output is exact, so the gate is a plain
# GROUP BY ... HAVING oracle.
# --------------------------------------------------------------------------


@query(
    "heavy_hitters_tokens",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token, COUNT(*) AS n FROM tok
GROUP BY token
HAVING COUNT(*) > 0.002 * (SELECT COUNT(*) FROM tok)
""",
)
def heavy_hitters_tokens(spark, sf_dir):
    from shmr_spark.operators.heavy_hitters import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    return heavy_hitters(toks, "token", phi=0.002)


# --------------------------------------------------------------------------
# Per-language length-band quality filter: keep documents inside their
# language's [p5, p95] n_chars band — the standard "drop truncated and
# concatenated junk" pass of a corpus pipeline. The percentile table
# is tiny (one row per language) and broadcast back.
# --------------------------------------------------------------------------


@query(
    "quality_length_band",
    oracle="""
WITH cut AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS p5,
         quantile_cont(n_chars, 0.95) AS p95
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN cut ON d.lang = cut.lang
WHERE d.n_chars >= cut.p5 AND d.n_chars <= cut.p95
""",
)
def quality_length_band(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cut = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p5"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    return (
        docs.join(F.broadcast(cut), "lang")
        .filter((F.col("n_chars") >= F.col("p5")) & (F.col("n_chars") <= F.col("p95")))
        .select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------------
# Deterministic global shuffle → training shards. A multiplicative
# (Knuth) hash gives a reproducible pseudo-random permutation with no
# driver state: shard = hash % n, intra-shard order = hash rank. At
# scale this is repartition(shard) + sortWithinPartitions — one
# shuffle, stable across runs and engines (pure int64 arithmetic).
# --------------------------------------------------------------------------


@query(
    "shuffle_shards",
    oracle="""
SELECT doc_id, shard, rn FROM (
  SELECT doc_id, key % 8 AS shard,
         row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS rn
  FROM (SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS key FROM documents)
)
""",
)
def shuffle_shards(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    key = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return (
        docs.select("doc_id", key.alias("key"), (key % 8).alias("shard"))
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "shard", "rn")
    )


# --------------------------------------------------------------------------
# Weighted training mix (operators/mixing.py): deterministic
# hash-gated sampling of each source, union'd — reproducible and
# append-stable, oracled exactly (pure int64 arithmetic).
# --------------------------------------------------------------------------


@query(
    "mix_training_sources",
    oracle="""
SELECT doc_id, mix_source FROM (
  SELECT doc_id, 'head' AS mix_source,
         ((doc_id * 2654435761) % 4294967296) AS h
  FROM documents WHERE substr(source, 4) IN ('0','1','2','3','4','5','6','7','8','9')
  UNION ALL
  SELECT doc_id, 'tail',
         ((doc_id * 2654435761) % 4294967296)
  FROM documents WHERE substr(source, 4) NOT IN ('0','1','2','3','4','5','6','7','8','9')
)
WHERE (mix_source = 'head' AND h < CAST(0.7 * 4294967296 AS BIGINT))
   OR (mix_source = 'tail' AND h < CAST(0.3 * 4294967296 AS BIGINT))
""",
)
def mix_training_sources(spark, sf_dir):
    from shmr_spark.operators.mixing import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    mixed = mix_sources(
        {
            "head": (docs.filter(F.length("source") == 4), 0.7),
            "tail": (docs.filter(F.length("source") > 4), 0.3),
        },
        id_col="doc_id",
    )
    return mixed.select("doc_id", "mix_source")


# --------------------------------------------------------------------------
# α-temperature language rebalancing (operators/mixing.py
# temperature_mix_rates): sample each language ∝ p^α so low-resource
# languages are upweighted — the standard multilingual-corpus recipe.
# At α=0.5 the weight is sqrt(n) (IEEE-correctly-rounded in every
# engine) and the weight sum is a 10⁶-scaled int64, so the derived
# rates and the hash-gated row selection are bit-deterministic
# cross-engine — an EXACT oracle for a sampling operator.
# --------------------------------------------------------------------------


@query(
    "temperature_balanced_mix",
    oracle="""
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
w AS (SELECT lang, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS wi
      FROM c),
t AS (SELECT CAST(SUM(wi) AS BIGINT) AS W FROM w),
r AS (SELECT lang, n,
             least(CAST(1.0 AS DOUBLE),
                   (CAST(400.0 AS DOUBLE) * CAST(wi AS DOUBLE))
                     / (CAST(W AS DOUBLE) * CAST(n AS DOUBLE))) AS rate
      FROM w CROSS JOIN t)
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(r.n) AS n_total
FROM documents d JOIN r ON d.lang = r.lang
WHERE ((d.doc_id * 2654435761) % 4294967296) < rate * 4294967296.0
GROUP BY d.lang
ORDER BY d.lang
""",
)
def temperature_balanced_mix(spark, sf_dir):
    from shmr_spark.dataset import bounded_sort
    from shmr_spark.operators.mixing import survival_hash, temperature_mix_rates

    docs = load_table(spark, sf_dir, "documents")
    rates = temperature_mix_rates(docs, "lang", target_rows=400, alpha=0.5)
    kept = docs.join(F.broadcast(rates), "lang").filter(
        survival_hash("doc_id") < F.col("rate") * F.lit(4294967296.0)
    )
    out = kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"), F.max("n").alias("n_total")
    )
    return bounded_sort(out, "lang")  # fixed 5-language domain


# --------------------------------------------------------------------------
# Deterministic k-per-group sample: reservoir semantics without RNG
# state — rank by the survival hash inside each group, keep k. Stable
# across runs/engines; one shuffle (the window).
# --------------------------------------------------------------------------


@query(
    "sample_k_per_group",
    oracle="""
SELECT lang, doc_id, rn FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
  FROM documents
)
WHERE rn <= 3
""",
)
def sample_k_per_group(spark, sf_dir):
    from pyspark.sql import Window

    from shmr_spark.operators.mixing import survival_hash

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(survival_hash("doc_id"), "doc_id")
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# Unigram LM quality score: mean log-probability of a document's
# tokens under the corpus unigram distribution — the classic cheap
# "gibberish / boilerplate" signal. Two aggregates + one broadcast
# join; rows-only gate (ln is libm-dependent) with a pure-Python
# cross-check in tests.
# --------------------------------------------------------------------------


@query(
    "unigram_logprob_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
), total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks)
SELECT doc_id,
       {sql_davg('ln(v.tf / total.n)')} AS mean_logprob,
       COUNT(*) AS n_tokens
FROM toks JOIN vocab v USING (token), total
GROUP BY doc_id
ORDER BY doc_id
""",
)
def unigram_logprob_score(spark, sf_dir):
    """Mean token log-probability under the corpus unigram LM. The
    mean goes through davg (exact scaled-int64 summation) so the
    hash can't break on float accumulation order — the per-token ln()
    operands are identical integers on both engines, and the scaled
    floor absorbs sub-1e-6 libm noise."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    # corpus token total as an in-plan broadcast scalar, not a driver
    # count(): identical double division (tf/long-cast-double); see
    # functions/scalars.py for the zero-jobs-at-plan-build rationale
    from shmr_spark.functions.scalars import with_scalars

    total = toks.agg(F.count(F.lit(1)).cast("double").alias("__total"))
    scored = (
        with_scalars(toks.join(F.broadcast(vocab), "token"), total)
        .groupBy("doc_id")
        .agg(
            davg(F.log(F.col("tf") / F.col("__total"))).alias("mean_logprob"),
            F.count("*").alias("n_tokens"),
        )
    )
    return scored.orderBy("doc_id")


# --------------------------------------------------------------------------
# Vocabulary growth (Heaps' law curve): cumulative distinct tokens
# after each document. COUNT(DISTINCT) OVER a running window doesn't
# distribute — the scalable rewrite is first-occurrence-per-token
# (one agg) + a cumulative sum over per-doc debut counts (one
# window). Both engines express the rewritten form.
# --------------------------------------------------------------------------


@query(
    "vocab_growth",
    oracle="""
WITH debut AS (
  SELECT MIN(doc_id) AS first_doc FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY token
),
per_doc AS (
  SELECT first_doc AS doc_id, COUNT(*) AS new_tokens
  FROM debut GROUP BY first_doc
)
SELECT d.doc_id,
       CAST(SUM(COALESCE(p.new_tokens, 0)) OVER
            (ORDER BY d.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS vocab_size
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
""",
)
def vocab_growth(spark, sf_dir):
    # The running vocabulary total is one row per document — a bare
    # Window.orderBy(doc_id) would still single-task |documents| rows
    # (the round-9 verdict's second scale finding). prefix_sum is the
    # bucketed two-phase scan: only the O(n/64) bucket-totals table
    # crosses a SinglePartition window.
    from shmr_spark.operators.packing import prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    per_doc = (
        toks.groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("new_tokens"))
    )
    base = (
        docs.select("doc_id")
        .distinct()
        .join(per_doc, "doc_id", "left")
        .select("doc_id", F.coalesce("new_tokens", F.lit(0)).alias("__nt"))
    )
    return prefix_sum(base, "doc_id", "__nt", "vocab_size").select(
        "doc_id", F.col("vocab_size").cast("long").alias("vocab_size")
    )


# --------------------------------------------------------------------------
# Regex extraction: digit-run counting per doc. Explicit ASCII
# classes ([0-9]) — Java and RE2 agree there, \\d does not (see
# BUILD_LOG trap #5).
# --------------------------------------------------------------------------


@query(
    "numbers_in_text",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
       COALESCE(TRY_CAST(regexp_extract(text, '[0-9]+') AS BIGINT), -1)
         AS first_number
FROM documents WHERE doc_id < 100
""",
)
def numbers_in_text(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_numbers"),
        F.coalesce(
            F.regexp_extract("text", "[0-9]+", 0).try_cast("long"), F.lit(-1)
        ).alias("first_number"),
    )


# --------------------------------------------------------------------------
# Inter-document token overlap: consecutive docs' shared vocabulary —
# array set ops (array_intersect / array_union) after a
# self-equi-join on doc_id+1.
# --------------------------------------------------------------------------


@query(
    "doc_token_overlap",
    oracle="""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS n_shared,
       CAST(len(list_distinct(a.toks)) + len(list_distinct(b.toks))
            - len(list_intersect(a.toks, b.toks)) AS INT) AS n_union
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a
JOIN (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) b
  ON b.doc_id = a.doc_id + 1
WHERE a.doc_id < 100
""",
)
def doc_token_overlap(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    a = docs.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")
    )
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    shared = F.size(F.array_intersect("ta", "tb"))
    uni = (
        F.size(F.array_distinct("ta")) + F.size(F.array_distinct("tb")) - shared
    )
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select("doc_a", "doc_b", shared.alias("n_shared"), uni.alias("n_union"))
    )


# --------------------------------------------------------------------------
# BPE training, iteration 0 (functions/bpe.py): corpus-weighted
# adjacent character-pair counts over the word-frequency table — the
# aggregation every merge iteration of tokenizer training repeats on
# the (vocab-sized) symbol table. Top 200 by (count desc, pair asc) —
# a total order, so the LIMIT is deterministic.
# --------------------------------------------------------------------------


@query(
    "bpe_pair_counts",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), wc AS (
  SELECT w, COUNT(*) AS c FROM words WHERE len(w) >= 2 GROUP BY w
), pairs AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, c
  FROM (SELECT w, c, unnest(generate_series(1, len(w) - 1)) AS i FROM wc)
)
SELECT a, b, CAST(SUM(c) AS BIGINT) AS n
FROM pairs GROUP BY a, b
ORDER BY n DESC, a, b LIMIT 200
""",
)
def bpe_pair_counts(spark, sf_dir):
    from shmr_spark.functions.bpe import (
        _char_split,
        adjacent_pair_counts,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = word_counts(docs)
    syms = wc.select(_char_split(F.col("word")).alias("syms"), "n")
    return (
        adjacent_pair_counts(syms)
        .orderBy(F.desc("n"), "a", "b")
        .limit(200)
    )


@query(
    "leakage_safe_split",
    oracle=f"""
WITH RECURSIVE {NEARDUP_PAIRS_SQL}, edges AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach (node, reached) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.node, e.v FROM reach r JOIN edges e ON r.reached = e.u
), comp AS (
  SELECT node, MIN(reached) AS comp FROM reach GROUP BY node
), grouped AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, group_id,
       CASE WHEN CAST('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 10000 < 2000
            THEN 'test' ELSE 'train' END AS split
FROM grouped
ORDER BY doc_id
""",
)
def leakage_safe_split_q(spark, sf_dir):
    """Near-dup-aware train/test split (operators/sampling.py
    leakage_safe_split): MinHash pairs -> connected components ->
    split on the md5 bucket of the CLUSTER representative, so
    near-duplicates can never straddle the train/test boundary. The
    oracle replays pair generation, a recursive-CTE components pass,
    and the same md5 bucket."""
    from shmr_spark.dedup import minhash_near_duplicates
    from shmr_spark.operators.sampling import (
        hash_split_col_md5,
        leakage_safe_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5, num_hashes=64, bands=64)
    out = leakage_safe_split(
        docs,
        pairs,
        test_fraction=0.2,
        split_col=hash_split_col_md5("group_id"),
    )
    return out.select("doc_id", "group_id", "split").orderBy("doc_id")


@query(
    "dedup_keep_best_quality",
    oracle=f"""
WITH RECURSIVE {NEARDUP_PAIRS_SQL}, edges AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach (node, reached) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.node, e.v FROM reach r JOIN edges e ON r.reached = e.u
), comp AS (
  SELECT node, MIN(reached) AS comp FROM reach GROUP BY node
), keep AS (
  SELECT node FROM (
    SELECT c.node,
           row_number() OVER (
             PARTITION BY c.comp ORDER BY d.n_chars DESC, c.node
           ) AS rk
    FROM comp c JOIN documents d ON c.node = d.doc_id
  ) WHERE rk = 1
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp)
   OR doc_id IN (SELECT node FROM keep)
ORDER BY doc_id
""",
)
def dedup_keep_best_quality(spark, sf_dir):
    """dedup_corpus_neardup's production variant: within each
    near-dup cluster keep the longest document (n_chars as the
    quality signal; ties -> smallest id) instead of the smallest id.
    Same pair + component machinery; only representative selection
    changes — and the oracle's row_number twin checks exactly that
    selection."""
    from shmr_spark.dedup import minhash_near_duplicates
    from shmr_spark.dedup.clusters import dedup_keep_best_in_cluster

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5, num_hashes=64, bands=64)
    survivors = dedup_keep_best_in_cluster(docs, pairs, quality_col="n_chars")
    return survivors.select("doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# BPE ENCODE gate (functions/bpe.py encode_bpe): at exactly one trained
# merge, BPE's left-to-right non-overlapping merge pass is provably
# equivalent to non-overlapping string replace (a merged symbol can
# never recreate the raw char pair), so per-doc token counts are
# computable in pure SQL: n_tokens(word) = len(w) − occurrences(ab).
# The oracle even re-derives the trained pair itself (top weighted
# 2-gram, same DESC-count, lexicographic tiebreak as train_bpe) — a
# fully self-contained cross-engine gate for tokenizer application;
# multi-merge encoding stays pinned by pytest round-trips.
# --------------------------------------------------------------------------


@query(
    "bpe_encode_counts",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
wc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
  FROM words WHERE length(w) >= 2 GROUP BY w
),
grams AS (
  SELECT substring(w, CAST(i AS INTEGER), 1) AS a,
         substring(w, CAST(i AS INTEGER) + 1, 1) AS b,
         SUM(n) AS cnt
  FROM wc, unnest(range(1, length(w))) AS t(i)
  GROUP BY 1, 2
),
top AS (
  -- always one row: on a degenerate corpus with no >=2-char word the
  -- trained merge list is empty and encoding is the char split, which
  -- a never-matching sentinel pair reproduces (an empty top would
  -- instead annihilate every row through the cross join below)
  SELECT a, b FROM (SELECT a, b FROM grams ORDER BY cnt DESC, a, b LIMIT 1)
  UNION ALL
  SELECT chr(1), chr(1) WHERE NOT EXISTS (SELECT 1 FROM grams)
)
SELECT doc_id,
       CAST(SUM(length(w) - (length(w) - length(replace(w, a || b, ''))) // 2)
            AS BIGINT) AS n_tokens
FROM words, top
GROUP BY doc_id
""",
)
def bpe_encode_counts(spark, sf_dir):
    from shmr_spark.functions.bpe import encode_bpe, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=1)
    return encode_bpe(docs, merges).select("doc_id", "n_tokens")


# --------------------------------------------------------------------------
# Corpus-statistical quality filters (functions/lm.py): an
# add-one-smoothed bigram LM scores each document's average negative
# log-probability (the CCNet/KenLM-style perplexity filter — the
# corpus-level complement of the per-row quality_score heuristic),
# and the Gopher-repetition family (duplicate-token / top-token /
# top-bigram shares). The LM's only transcendental, ln(), is
# floor-quantized once per distinct bigram and summed exactly in
# int64 (functions/numeric.py discipline); boundary margins are
# pinned in tests/test_edge_cases.py. The repetition ratios are
# int/int divisions — correctly rounded identically in both engines.
# --------------------------------------------------------------------------


@query(
    "lm_perplexity",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
uni AS (
  SELECT tok, count(*) AS c1 FROM toks GROUP BY 1
),
vocab AS (
  SELECT count(*) AS v FROM uni
),
bgs AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, len(string_split(text, ' ')) - 1),
      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
  )) AS bg FROM documents
),
bc AS (
  SELECT doc_id, bg, count(*) AS cnt FROM bgs GROUP BY 1, 2
),
c2 AS (
  SELECT bg, CAST(SUM(cnt) AS BIGINT) AS c2 FROM bc GROUP BY 1
),
scored AS (
  SELECT bc.doc_id, bc.cnt,
         CAST(floor(-ln(CAST(c2.c2 + 1 AS DOUBLE)
                        / CAST(uni.c1 + vocab.v AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS t6
  FROM bc
  JOIN c2 ON bc.bg = c2.bg
  JOIN uni ON string_split(bc.bg, ' ')[1] = uni.tok
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(t6 * cnt) AS BIGINT) AS DOUBLE) / 1000000.0
           / CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) AS avg_neg_logp
FROM scored GROUP BY 1
""",
)
def lm_perplexity(spark, sf_dir):
    """Bigram-LM quality scoring over the documents corpus. Documents
    with a single token have no bigrams and are absent on both sides
    (oracle: generate_series(1, 0) is empty)."""
    from shmr_spark.functions.lm import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)


@query(
    "repetition_metrics",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tc AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
ts AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct, MAX(c) AS top_tok
  FROM tc GROUP BY 1
),
bgs AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, len(string_split(text, ' ')) - 1),
      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
  )) AS bg FROM documents
),
bc AS (
  SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2
),
bs AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_bg
  FROM bc GROUP BY 1
)
SELECT ts.doc_id,
       ts.n_tokens,
       CAST(ts.n_tokens - ts.n_distinct AS DOUBLE)
           / CAST(ts.n_tokens AS DOUBLE) AS dup_token_frac,
       CAST(ts.top_tok AS DOUBLE)
           / CAST(ts.n_tokens AS DOUBLE) AS top_token_frac,
       COALESCE(CAST(bs.top_bg AS DOUBLE) / CAST(bs.n_bigrams AS DOUBLE),
                CAST(0 AS DOUBLE)) AS top_bigram_frac
FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
""",
)
def repetition_metrics(spark, sf_dir):
    """Gopher-style repetition shares per document; single-token
    documents get top_bigram_frac = 0.0."""
    from shmr_spark.functions.lm import repetition_metrics as rep

    docs = load_table(spark, sf_dir, "documents")
    return rep(docs)


# --------------------------------------------------------------------------
# DSIR importance-resampling selection (functions/dsir.py — Xie et
# al. NeurIPS 2023): weight every document by the log-ratio of an
# add-one-smoothed target-domain unigram model (lang='en' here) over
# the raw-pool model, keep the top-k budget. The terms are SIGNED —
# unlike the LM tier — but ride the same floor-quantize-once int64
# discipline; selection is a fixed budget → TakeOrdered, no global
# sort. The logweight column carries n_tokens alongside so the gate
# also pins the per-doc count path.
# --------------------------------------------------------------------------

_DSIR_K = 25


@query(
    "dsir_select",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
dc AS (
  SELECT doc_id, is_t, tok, count(*) AS cnt FROM toks GROUP BY 1, 2, 3
),
cc AS (
  SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS BIGINT) AS ct
  FROM dc GROUP BY 1
),
tot AS (
  SELECT count(*) AS v, CAST(SUM(cr) AS BIGINT) AS nr,
         CAST(SUM(ct) AS BIGINT) AS nt
  FROM cc
),
scored AS (
  SELECT dc.doc_id, dc.cnt,
         CAST(floor((ln(CAST(cc.ct + 1 AS DOUBLE)
                        / CAST(tot.nt + tot.v AS DOUBLE))
                   - ln(CAST(cc.cr + 1 AS DOUBLE)
                        / CAST(tot.nr + tot.v AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) AS t6
  FROM dc JOIN cc USING (tok) CROSS JOIN tot
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(t6 * cnt) AS BIGINT) AS DOUBLE) / 1000000.0
           AS logweight
FROM scored GROUP BY 1
ORDER BY logweight DESC, doc_id
LIMIT {_DSIR_K}
""",
)
def dsir_select(spark, sf_dir):
    """Top-{k} documents by DSIR importance weight toward the
    English target domain; deterministic rank selection (ties by
    doc_id) in place of the paper's Gumbel resampling."""
    from shmr_spark.functions.dsir import dsir_select as sel

    docs = load_table(spark, sf_dir, "documents")
    return sel(docs, F.col("lang") == "en", k=_DSIR_K)


# The paper's HASHED-feature estimator (round-12 verdict task): every
# token maps to md5_60bits(tok) mod B and the target/raw
# distributions are estimated over the ≤B buckets — the variant that
# GUARANTEES a broadcast-sized count relation when a raw web corpus's
# vocabulary outgrows the Heaps-law assumption the unigram gate
# relies on. The md5-prefix bucket is the engine-portable hash idiom
# (train_test_split / ngram_decontamination), so the oracle twin
# hashes identically; everything downstream of the feature key is the
# same plan as dsir_select. B=16 is deliberately BELOW the corpus
# vocabulary (31 distinct tokens in the synthetic documents table) so
# bucket collisions actually merge counts at every gate scale — a B
# above the vocabulary would make the gate trivially identical to the
# unigram one and leave the collision path unpinned; production picks
# B >> expected vocabulary (2^18..2^22 in the paper), where the same
# merging happens only on the long tail.
_DSIR_HASH_B = 16


@query(
    "dsir_select_hashed",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         CAST('0x' || substr(md5(tok_s), 1, 15) AS BIGINT) % {_DSIR_HASH_B}
             AS tok
  FROM (
    SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS tok_s
    FROM documents
  )
),
dc AS (
  SELECT doc_id, is_t, tok, count(*) AS cnt FROM toks GROUP BY 1, 2, 3
),
cc AS (
  SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS BIGINT) AS ct
  FROM dc GROUP BY 1
),
tot AS (
  SELECT count(*) AS v, CAST(SUM(cr) AS BIGINT) AS nr,
         CAST(SUM(ct) AS BIGINT) AS nt
  FROM cc
),
scored AS (
  SELECT dc.doc_id, dc.cnt,
         CAST(floor((ln(CAST(cc.ct + 1 AS DOUBLE)
                        / CAST(tot.nt + tot.v AS DOUBLE))
                   - ln(CAST(cc.cr + 1 AS DOUBLE)
                        / CAST(tot.nr + tot.v AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) AS t6
  FROM dc JOIN cc USING (tok) CROSS JOIN tot
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(t6 * cnt) AS BIGINT) AS DOUBLE) / 1000000.0
           AS logweight
FROM scored GROUP BY 1
ORDER BY logweight DESC, doc_id
LIMIT {_DSIR_K}
""",
)
def dsir_select_hashed(spark, sf_dir):
    """Top-{k} documents by the hashed-feature DSIR estimator
    (md5-bucketed tokens, B={buckets}) toward the English target
    domain — the bounded-feature-space variant for raw web-scale
    vocabularies."""
    from shmr_spark.functions.dsir import dsir_select as sel

    docs = load_table(spark, sf_dir, "documents")
    return sel(
        docs, F.col("lang") == "en", k=_DSIR_K, hash_buckets=_DSIR_HASH_B
    )


# The paper's FULL configuration: hashed unigram + adjacent-bigram
# features (Xie et al. §3 hash bag-of-ngrams with n ≤ 2). The bigram
# set widens the feature instance stream to 2N−1 per document but the
# count relation stays ≤B rows; n_tokens still counts TOKENS (it
# rides the group key from the scan), so per-token normalization is
# feature-space-invariant. B=64 keeps collisions live at gate scale
# (unigram+bigram vocabulary ≫ 64 here).
_DSIR_NGRAM_B = 64


@query(
    "dsir_select_ngram_hashed",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         unnest(list_concat(
             string_split(text, ' '),
             list_transform(
                 generate_series(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1])
         )) AS f
  FROM documents
),
toks AS (
  SELECT doc_id, is_t, n_toks,
         CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % {_DSIR_NGRAM_B}
             AS tok
  FROM feats
),
dc AS (
  SELECT doc_id, is_t, n_toks, tok, count(*) AS cnt
  FROM toks GROUP BY 1, 2, 3, 4
),
cc AS (
  SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS BIGINT) AS ct
  FROM dc GROUP BY 1
),
tot AS (
  SELECT count(*) AS v, CAST(SUM(cr) AS BIGINT) AS nr,
         CAST(SUM(ct) AS BIGINT) AS nt
  FROM cc
),
scored AS (
  SELECT dc.doc_id, dc.cnt, dc.n_toks,
         CAST(floor((ln(CAST(cc.ct + 1 AS DOUBLE)
                        / CAST(tot.nt + tot.v AS DOUBLE))
                   - ln(CAST(cc.cr + 1 AS DOUBLE)
                        / CAST(tot.nr + tot.v AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) AS t6
  FROM dc JOIN cc USING (tok) CROSS JOIN tot
)
SELECT doc_id,
       CAST(MAX(n_toks) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(t6 * cnt) AS BIGINT) AS DOUBLE) / 1000000.0
           AS logweight
FROM scored GROUP BY 1
ORDER BY logweight DESC, doc_id
LIMIT {_DSIR_K}
""",
)
def dsir_select_ngram_hashed(spark, sf_dir):
    """Top-{k} documents by the paper's full hashed bag-of-ngrams
    DSIR estimator (unigrams + adjacent bigrams, md5-bucketed into
    B={buckets})."""
    from shmr_spark.functions.dsir import dsir_select as sel

    docs = load_table(spark, sf_dir, "documents")
    return sel(
        docs,
        F.col("lang") == "en",
        k=_DSIR_K,
        hash_buckets=_DSIR_NGRAM_B,
        ngrams=2,
    )


# --------------------------------------------------------------------------
# N-gram decontamination (the GPT-3/Llama playbook): a test-split
# document is contaminated if it shares ANY token 13-gram with the
# train split — catches partial/embedded leakage the exact
# bag-of-words fingerprint (contamination_check above) cannot.
# Scale shape: distinct 13-grams explode once per side, the train
# side collapses to a DISTINCT gram set (map-side partial agg), and
# the equi-join runs on md5(gram) — 32-byte keys instead of ~100-byte
# gram strings through the exchange. Everything is linear in corpus
# tokens; no pair enumeration anywhere. Documents shorter than 13
# tokens contribute their full token sequence as one gram (the
# shingle_ngrams short-doc rule, mirrored in the oracle's CASE).
# --------------------------------------------------------------------------

_DECON_N = 13


def _sql_gram_list(n: int) -> str:
    """DuckDB list expression: distinct token n-grams of `text` with
    the shingle_ngrams short-doc rule (docs shorter than n tokens
    yield their full token sequence as one gram)."""
    s = "string_split(text, ' ')"
    chain = " || ' ' || ".join(f"{s}[i+{k}]" if k else f"{s}[i]" for k in range(n))
    return (
        f"CASE WHEN len({s}) >= {n} THEN list_distinct(list_transform("
        f"generate_series(1, len({s}) - {n - 1}), i -> {chain})) "
        f"ELSE [text] END"
    )


def _decon_gram_sql() -> str:
    return f"""
  SELECT doc_id, {_sql_gram_list(_DECON_N)} AS grams
  FROM documents"""


@query(
    "ngram_decontamination",
    oracle=f"""
WITH g AS ({_decon_gram_sql()}),
e AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_test_grams,
         unnest(grams) AS gram
  FROM g
),
tr AS (SELECT DISTINCT md5(gram) AS h FROM e WHERE doc_id % 5 <> 0),
te AS (
  SELECT doc_id AS test_doc, n_test_grams, md5(gram) AS h
  FROM e WHERE doc_id % 5 = 0
)
SELECT test_doc,
       COUNT(*) AS n_shared_grams,
       MIN(n_test_grams) AS n_test_grams,
       CAST(COUNT(*) AS DOUBLE) / CAST(MIN(n_test_grams) AS DOUBLE)
           AS contamination_frac
FROM te JOIN tr USING (h)
GROUP BY test_doc
""",
)
def ngram_decontamination(spark, sf_dir):
    """Test-split docs sharing >= 1 token 13-gram with the train
    split (split: doc_id % 5, as contamination_check). Output rows
    only for contaminated docs; n_shared_grams counts DISTINCT shared
    grams (per-doc grams are distinct, the train side is a distinct
    set, so each test gram matches at most once).

    The gram identity is INTERNAL (no hash value reaches the output),
    so the Spark side keys on xxhash64(gram) longs — exact up to
    ~2^-64-per-pair collisions, the established minhash-verify caveat
    — while the oracle keeps its md5 strings: 8-byte keys cut the
    train-distinct + join exchange 44.4 → 13.6 MB (−69%) at the 10×
    corpus and 216 → 85 MB (−61%) at 100× vs md5's 32-char strings
    (r13 measurement; outputs identical at sf0.001/0.01/0.1)."""
    from shmr_spark.dedup.minhash import shingle_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", shingle_ngrams(F.col("text"), _DECON_N).alias("grams")
    ).select(
        "doc_id",
        F.size("grams").cast("long").alias("n_test_grams"),
        F.explode("grams").alias("gram"),
    )
    train = (
        grams.filter(F.col("doc_id") % 5 != 0)
        .select(F.xxhash64("gram").alias("h"))
        .distinct()
    )
    test = grams.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("test_doc"),
        "n_test_grams",
        F.xxhash64("gram").alias("h"),
    )
    shared = F.count("*")
    return (
        test.join(train, "h")
        .groupBy("test_doc")
        .agg(
            shared.alias("n_shared_grams"),
            F.min("n_test_grams").alias("n_test_grams"),
        )
        .select(
            "test_doc",
            "n_shared_grams",
            "n_test_grams",
            (
                F.col("n_shared_grams").cast("double")
                / F.col("n_test_grams").cast("double")
            ).alias("contamination_frac"),
        )
    )


# --------------------------------------------------------------------------
# CCNet perplexity buckets: the head/middle/tail split (Wenzek et al.
# 2020) assigns every document a per-LANGUAGE perplexity tercile —
# the standard corpus-quality partition downstream filters key on.
# Scale shape: a bare ntile(3) OVER (PARTITION BY lang ...) funnels
# each language (terabytes, at web scale) through ONE task;
# grouped_ntile reproduces ntile's exact remainder rule per group on
# top of the two-phase bucketed rank, so every language's scan
# parallelizes across key cells. Ordering is (avg_neg_logp, doc_id):
# the score is the SAME quantized-int64-sum double on both engines
# (lm_perplexity's contract), so the order — and therefore every
# tile boundary — is engine-invariant.
# --------------------------------------------------------------------------


@query(
    "perplexity_buckets",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
uni AS (
  SELECT tok, count(*) AS c1 FROM toks GROUP BY 1
),
vocab AS (
  SELECT count(*) AS v FROM uni
),
bgs AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, len(string_split(text, ' ')) - 1),
      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
  )) AS bg FROM documents
),
bc AS (
  SELECT doc_id, bg, count(*) AS cnt FROM bgs GROUP BY 1, 2
),
c2 AS (
  SELECT bg, CAST(SUM(cnt) AS BIGINT) AS c2 FROM bc GROUP BY 1
),
scored AS (
  SELECT bc.doc_id, bc.cnt,
         CAST(floor(-ln(CAST(c2.c2 + 1 AS DOUBLE)
                        / CAST(uni.c1 + vocab.v AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS t6
  FROM bc
  JOIN c2 ON bc.bg = c2.bg
  JOIN uni ON string_split(bc.bg, ' ')[1] = uni.tok
  CROSS JOIN vocab
),
ppl AS (
  SELECT doc_id,
         CAST(CAST(SUM(t6 * cnt) AS BIGINT) AS DOUBLE) / 1000000.0
             / CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) AS avg_neg_logp
  FROM scored GROUP BY 1
)
SELECT p.doc_id, d.lang, p.avg_neg_logp,
       CAST(ntile(3) OVER (
           PARTITION BY d.lang ORDER BY p.avg_neg_logp, p.doc_id
       ) AS INT) AS ppl_bucket
FROM ppl p JOIN documents d USING (doc_id)
""",
)
def perplexity_buckets(spark, sf_dir):
    """Per-language perplexity terciles (1 = head, 3 = tail) over the
    bigram-LM score. Single-token documents have no bigrams and are
    absent on both sides (the lm_perplexity contract)."""
    from shmr_spark.functions.lm import bigram_lm_scores
    from shmr_spark.operators.ranking import grouped_ntile

    docs = load_table(spark, sf_dir, "documents")
    # lang is re-attached by a doc-level join, NOT carried through the
    # LM's group keys: carrying a string column on the (doc, bigram)
    # exchange costs ~width bytes per DISTINCT BIGRAM (measured +43 MB
    # at the 10x corpus), while the join moves two one-row-per-DOC
    # relations (~2 MB) — the join wins whenever docs average more
    # than a couple of bigrams, i.e. always
    scored = materialize(
        bigram_lm_scores(docs)
        .select("doc_id", "avg_neg_logp")
        .join(docs.select("doc_id", "lang"), "doc_id")
        # grouped_ntile takes THREE passes over its input per action
        # (auto-bucket min/max, bucket totals, the ranked probe), and
        # each re-inlined the whole bigram-LM sub-plan: 158-Exchange
        # plan, the LM explode executed repeatedly. The pin truncates
        # the lineage so the LM runs once per action and the ntile
        # machinery scans the 3-column materialization.
        # Measured (r12 optimization): 2.45 -> 1.93 s at sf0.1, min
        # 5.9 -> 4.8 s at 10x; output row-identical (oracle hash-match
        # re-verified at three SFs).
    )
    tiled = grouped_ntile(
        scored, ["lang"], "avg_neg_logp", "doc_id", 3, tile_col="ppl_bucket"
    )
    return tiled.select("doc_id", "lang", "avg_neg_logp", "ppl_bucket")


# --------------------------------------------------------------------------
# Supervised quality/domain classifier (functions/nb.py): multinomial
# Naive Bayes trained in-plan on the doc_id % 5 != 0 split and scored
# over the held-out fifth — the closed-form member of the fastText
# filter family (FineWeb-Edu / CCNet playbook). Everything is exact
# integer counts except one quantized ln() per distinct (token,
# class) likelihood and per class prior, so the argmax compares
# exact int64 scores and both engines agree bit-for-bit.
# --------------------------------------------------------------------------


@query(
    "nb_lang_classifier",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, (doc_id % 5 <> 0) AS is_tr,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
cc AS (
  SELECT tok, lang, CAST(count(*) AS BIGINT) AS cws
  FROM toks WHERE is_tr GROUP BY 1, 2
),
cls AS (
  SELECT lang, CAST(SUM(cws) AS BIGINT) AS ns FROM cc GROUP BY 1
),
pri AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS ds
  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1
),
tot AS (
  SELECT (SELECT count(DISTINCT tok) FROM cc) AS v,
         (SELECT CAST(SUM(ds) AS BIGINT) FROM pri) AS d
),
dc AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks WHERE NOT is_tr GROUP BY 1, 2
),
sc AS (
  SELECT dc.doc_id, c.lang,
         CAST(floor(ln(CAST(COALESCE(cc.cws, 0) + 1 AS DOUBLE)
                       / CAST(c.ns + t.v AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS t6,
         dc.cnt,
         CAST(floor(ln(CAST(p.ds AS DOUBLE) / CAST(t.d AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS p6
  FROM dc
  CROSS JOIN cls c
  CROSS JOIN tot t
  JOIN pri p ON p.lang = c.lang
  LEFT JOIN cc ON cc.tok = dc.tok AND cc.lang = c.lang
),
agg AS (
  SELECT doc_id, lang,
         MIN(p6) + CAST(SUM(t6 * cnt) AS BIGINT) AS score_q
  FROM sc GROUP BY 1, 2
),
best AS (
  SELECT doc_id, lang AS pred, score_q,
         row_number() OVER (
             PARTITION BY doc_id ORDER BY score_q DESC, lang ASC
         ) AS rn
  FROM agg
)
SELECT b.doc_id AS test_doc, d.lang AS actual_lang, b.pred AS pred_lang,
       (b.pred = d.lang) AS is_correct,
       CAST(b.score_q AS DOUBLE) / 1000000.0 AS score
FROM best b JOIN documents d USING (doc_id)
WHERE rn = 1
""",
)
def nb_lang_classifier(spark, sf_dir):
    """Held-out language prediction: train on doc_id % 5 != 0,
    classify the rest; ties break to the smallest class name."""
    from shmr_spark.functions.nb import nb_classify

    docs = load_table(spark, sf_dir, "documents")
    pred = nb_classify(docs, "lang", F.col("doc_id") % 5 != 0)
    return pred.join(
        docs.select("doc_id", F.col("lang").alias("actual_lang")), "doc_id"
    ).select(
        F.col("doc_id").alias("test_doc"),
        "actual_lang",
        F.col("pred").alias("pred_lang"),
        (F.col("pred") == F.col("actual_lang")).alias("is_correct"),
        "score",
    )


# --------------------------------------------------------------------------
# Curriculum sharding: each language's documents cut into N
# quality-ordered, equal-population shards — every training shard
# draws the same fraction of every language no matter how unbalanced
# the corpus is (the grouped complement of range_shards_orders).
# Rides operators/ranking.grouped_range_shards: the pure-integer
# (rank−1)·n div total cut on the grouped two-phase rank, so shard
# assignment is engine-reproducible and no language funnels through
# one window task.
# --------------------------------------------------------------------------


@query(
    "curriculum_shards",
    oracle=f"""
WITH q AS (
  SELECT doc_id, lang, {sql_quality_score('text')} AS q FROM documents
)
SELECT doc_id, lang,
       CAST((row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) - 1) * 4
            // (COUNT(*) OVER (PARTITION BY lang)) AS BIGINT) AS shard_id
FROM q
""",
)
def curriculum_shards(spark, sf_dir):
    """4 equal-population quality-ordered shards per language;
    ties broken by doc_id."""
    from shmr_spark.operators.ranking import grouped_range_shards

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", quality_score("text").alias("q")
    )
    return grouped_range_shards(
        scored, ["lang"], "q", "doc_id", 4
    ).select("doc_id", "lang", "shard_id")


# --------------------------------------------------------------------------
# Corpus data card: the per-source datasheet row every training-data
# release publishes (Gebru et al. 2021 "Datasheets for Datasets";
# the Dolma/FineWeb report tables) — document/token mass, language
# breadth, length envelope, quality statistics — as ONE partial-
# aggregable pass over the corpus. Every statistic is an exact
# integer count, min/max, or the exact-decimal average (davg), so
# the row is engine-reproducible without quantization; a p50/p95
# length sketch belongs to approx_percentiles' tolerance-oracle
# family, not here.
# --------------------------------------------------------------------------


@query(
    "corpus_datacard",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' ')) ) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT lang) AS n_langs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       {sql_davg('CAST(n_chars AS DOUBLE)')} AS avg_chars,
       {sql_davg(sql_quality_score('text'))} AS avg_quality
FROM documents
GROUP BY source
""",
)
def corpus_datacard(spark, sf_dir):
    """One datasheet row per source: exact counts/extrema plus
    exact-decimal averages (summation-order-free)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        davg(F.col("n_chars").cast("double")).alias("avg_chars"),
        davg(quality_score("text")).alias("avg_quality"),
    )


# --------------------------------------------------------------------------
# Classifier-based selection (functions/nb.py nb_margin_select): the
# FineWeb-Edu / Llama filter step — target-vs-rest NB margin, top-k.
# The discriminative complement of dsir_select: per-class smoothed
# conditionals + priors instead of target-vs-pool marginals; the cut
# compares exact int64 margins so both engines agree bit-for-bit.
# --------------------------------------------------------------------------

_NBSEL_K = 25


@query(
    "nb_target_select",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 'target' ELSE 'rest' END AS cls,
         (doc_id % 5 <> 0) AS is_tr,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
cc AS (
  SELECT tok, cls, CAST(count(*) AS BIGINT) AS cws
  FROM toks WHERE is_tr GROUP BY 1, 2
),
clsn AS (
  SELECT cls, CAST(SUM(cws) AS BIGINT) AS ns FROM cc GROUP BY 1
),
pri AS (
  SELECT CASE WHEN lang = 'en' THEN 'target' ELSE 'rest' END AS cls,
         CAST(count(*) AS BIGINT) AS ds
  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1
),
tot AS (
  SELECT (SELECT count(DISTINCT tok) FROM cc) AS v,
         (SELECT CAST(SUM(ds) AS BIGINT) FROM pri) AS d
),
dc AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks WHERE NOT is_tr GROUP BY 1, 2
),
sc AS (
  SELECT dc.doc_id, c.cls,
         CAST(floor(ln(CAST(COALESCE(cc.cws, 0) + 1 AS DOUBLE)
                       / CAST(c.ns + t.v AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS t6,
         dc.cnt,
         CAST(floor(ln(CAST(p.ds AS DOUBLE) / CAST(t.d AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS p6
  FROM dc
  CROSS JOIN clsn c
  CROSS JOIN tot t
  JOIN pri p ON p.cls = c.cls
  LEFT JOIN cc ON cc.tok = dc.tok AND cc.cls = c.cls
),
agg AS (
  SELECT doc_id, cls,
         MIN(p6) + CAST(SUM(t6 * cnt) AS BIGINT) AS score_q
  FROM sc GROUP BY 1, 2
)
SELECT doc_id,
       CAST(CAST(SUM(CASE WHEN cls = 'target' THEN score_q
                          ELSE -score_q END) AS BIGINT) AS DOUBLE)
           / 1000000.0 AS margin
FROM agg GROUP BY doc_id
ORDER BY margin DESC, doc_id
LIMIT {_NBSEL_K}
""",
)
def nb_target_select(spark, sf_dir):
    """Top-{k} held-out documents by target-vs-rest NB margin
    (target = lang 'en'; train split doc_id % 5 != 0)."""
    from shmr_spark.functions.nb import nb_margin_select

    docs = load_table(spark, sf_dir, "documents")
    return nb_margin_select(
        docs,
        F.col("lang") == "en",
        F.col("doc_id") % 5 != 0,
        k=_NBSEL_K,
    )


# --------------------------------------------------------------------------
# Corpus diagnostics tier: the three standard "what is in this blend"
# measurements a training-data pipeline runs before mixing sources —
# per-document n-gram diversity (distinct-n, Li et al. 2016, the
# degeneration/templated-text signal), per-source unigram KL vs the
# corpus blend (the mixing diagnostic DoReMi-style reweighting starts
# from), and the cross-source shared-n-gram matrix (which sources
# duplicate each other's content — boilerplate and syndication show
# up here long before pairwise doc dedup runs).
# --------------------------------------------------------------------------


@query(
    "distinct_ngram_diversity",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         {_sql_gram_list(2)} AS g2,
         {_sql_gram_list(3)} AS g3
  FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS distinct_1,
       CAST(len(g2) AS DOUBLE)
           / CAST(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 1 END
                  AS DOUBLE) AS distinct_2,
       CAST(len(g3) AS DOUBLE)
           / CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 1 END
                  AS DOUBLE) AS distinct_3
FROM t
""",
)
def distinct_ngram_diversity(spark, sf_dir):
    """Per-document distinct-n ratios for n = 1, 2, 3: distinct
    n-grams over total n-gram slots (L − n + 1). Low values flag
    degenerate/repetitive text (the complement of repetition_metrics'
    top-share view). Pure per-row expression work — scan + project,
    no shuffle, no UDF; every ratio divides two exact integers cast
    to double, so the values are engine-invariant. Docs shorter than
    n tokens follow the shingle_ngrams short-doc rule (one whole-text
    gram over a denominator of 1 → ratio 1.0)."""
    from shmr_spark.dedup.minhash import shingle_ngrams

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)

    def ratio(num, den):
        return num.cast("double") / den.cast("double")

    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        ratio(F.size(F.array_distinct(toks)), n).alias("distinct_1"),
        ratio(
            F.size(shingle_ngrams(F.col("text"), 2)),
            F.when(n >= 2, n - 1).otherwise(F.lit(1)),
        ).alias("distinct_2"),
        ratio(
            F.size(shingle_ngrams(F.col("text"), 3)),
            F.when(n >= 3, n - 2).otherwise(F.lit(1)),
        ).alias("distinct_3"),
    )


@query(
    "source_unigram_kl",
    oracle="""
WITH e AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
stc AS (SELECT source, tok, COUNT(*) AS c FROM e GROUP BY 1, 2),
tc  AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM stc GROUP BY 1),
ns  AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM stc GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM stc),
term AS (
  SELECT stc.source, stc.c, ns.n,
         CAST(floor(ln((CAST(stc.c AS DOUBLE) * CAST(tot.nn AS DOUBLE))
                       / (CAST(ns.n AS DOUBLE) * CAST(tc.ct AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM stc
  JOIN tc USING (tok)
  JOIN ns USING (source)
  CROSS JOIN tot)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(CAST(c AS DECIMAL(38,0)) * q) AS DOUBLE) / 1000000.0
           / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS kl_vs_corpus
FROM term GROUP BY source
""",
)
def source_unigram_kl(spark, sf_dir):
    """KL(P_source ‖ P_corpus) over whitespace unigrams, one row per
    source — the corpus-mixing diagnostic (functions/lm.py
    source_unigram_kl). Exchange bytes bounded by distinct
    (source, token) pairs; the ln is quantized ONCE per term and
    summed exactly in int64 (weighted by the exact count), so both
    engines divide identical operands at the end."""
    from shmr_spark.functions.lm import source_unigram_kl

    docs = load_table(spark, sf_dir, "documents")
    return source_unigram_kl(docs)


_OVERLAP_N = 8


@query(
    "cross_source_overlap",
    oracle=f"""
WITH g AS (
  SELECT source, {_sql_gram_list(_OVERLAP_N)} AS grams FROM documents),
E AS (SELECT DISTINCT source, md5(unnest(grams)) AS h FROM g),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM E GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM E a JOIN E b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, n_shared,
       sa.sz AS n_grams_a, sb.sz AS n_grams_b,
       CAST(n_shared AS DOUBLE)
           / CAST(sa.sz + sb.sz - n_shared AS DOUBLE) AS jaccard
FROM pairs
JOIN sz sa ON sa.source = source_a
JOIN sz sb ON sb.source = source_b
""",
)
def cross_source_overlap(spark, sf_dir):
    """Shared token {n}-gram matrix between sources: for every source
    pair with ≥ 1 shared distinct {n}-gram, the shared count, each
    side's distinct-gram total, and the set Jaccard.

    Scale shape: ONE documents scan builds the per-gram source-set
    relation G = (h → collect_set(source)) — the exchange carries
    partially-merged (md5, set) rows, bounded by distinct
    (gram, source) pairs, and partial aggregation collapses replicas
    map-side (measured byte-constant, 1.06×, at the 10×→100× step).
    Pairs are then GENERATED from each gram's sorted source set (an
    array expression — fan-out ≤ C(|sources|, 2), a fixed catalog
    constant, never a self-join re-scan and never a document cross
    product), and the per-source gram totals explode out of the SAME
    relation, which Catalyst de-duplicates into a ReusedExchange (the
    naive E⋈E self-join formulation re-scanned the corpus four
    times — plan-pinned in tests/test_plans.py). Sizes broadcast
    (|sources| rows). Jaccard divides exact int64 counts —
    engine-invariant."""
    from shmr_spark.dedup.minhash import shingle_ngrams

    docs = load_table(spark, sf_dir, "documents")
    G = (
        docs.select(
            "source", F.explode(shingle_ngrams(F.col("text"), _OVERLAP_N)).alias("g")
        )
        .select("source", F.md5("g").alias("h"))
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    sz = (
        G.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("sz"))
    )
    pair_structs = F.flatten(
        F.transform(
            "srcs",
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        G.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = F.broadcast(sz.select(F.col("source").alias("__sa"), F.col("sz").alias("n_grams_a")))
    sb = F.broadcast(sz.select(F.col("source").alias("__sb"), F.col("sz").alias("n_grams_b")))
    return (
        pairs.join(sa, pairs.source_a == F.col("__sa"))
        .join(sb, pairs.source_b == F.col("__sb"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_grams_a",
            "n_grams_b",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


@query(
    "zipf_slope",
    oracle="""
WITH f AS (
  SELECT tok, COUNT(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1),
r AS (
  SELECT c,
         ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM f),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         (CAST(CAST(SUM(CAST(floor(CAST((x) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS sx,
         (CAST(CAST(SUM(CAST(floor(CAST((y) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS sy,
         (CAST(CAST(SUM(CAST(floor(CAST((x * y) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS sxy,
         (CAST(CAST(SUM(CAST(floor(CAST((x * x) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS sxx
  FROM r)
SELECT CAST(n AS BIGINT) AS vocab_size, n_tokens,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM s
""",
)
def zipf_slope(spark, sf_dir):
    """Zipf law fit: OLS slope of ln(frequency) against ln(rank) over
    the corpus token-frequency table — the power-law exponent
    (≈ −1 for natural language; deviations flag synthetic or
    templated corpora). The companion of vocab_growth's Heaps curve.

    Scale shape: the frequency table is vocabulary-sized (Heaps-
    bounded); the rank is operators/ranking.global_rank — the
    two-phase bucketed rank, NO single-task global window — ordered
    by (count desc, token). Sums follow the regression_price_qty
    template exactly: dsum's quantized exact summation + one final
    round(6), so engine summation order can't move the hash."""
    from shmr_spark.functions.numeric import dmul, dsum
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
    y = F.log(F.col("c").cast("double"))
    s = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("c").alias("n_tokens"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(dmul(x, y)).alias("sxy"),
        dsum(dmul(x, x)).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return s.select(
        n.cast("long").alias("vocab_size"),
        "n_tokens",
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
    )
