"""End-to-end LLM-pipeline composite queries: sequence packing,
inverted index construction, corpus-wide sentence dedup, and the
training-subset filter that chains lang-ID -> quality -> length ->
exact-dedup. Each is a realistic "last mile" a training-data job runs
after the per-doc signals, and each has a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.functions.numeric import sql_dsum
from shmr_spark.functions.text import (
    lang_id,
    quality_score,
    sql_lang_id,
    sql_quality_score,
    sql_token_count,
    token_count,
)
from shmr_spark.queries import query
from shmr_spark.queries.text import NEARDUP_PAIRS_SQL

# --------------------------------------------------------------------------
# Sequence packing (operators/packing.py): the oracle states the
# SEMANTICS as one global window cumsum — fine for DuckDB at gate
# scale — while the Spark side runs the distributed two-phase prefix
# sum (bucket totals + partitioned windows), proving the scalable
# rewrite computes the same function.
# --------------------------------------------------------------------------


@query(
    "pack_sequences",
    oracle=f"""
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start_tok,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
            AS BIGINT) AS pack_id
FROM (
  SELECT doc_id, CAST({sql_token_count('text')} AS BIGINT) AS n_tokens
  FROM documents
)
ORDER BY doc_id
""",
)
def pack_sequences_q(spark, sf_dir):
    from shmr_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(counted, budget=2048).orderBy("doc_id")


# --------------------------------------------------------------------------
# Inverted index: term -> document frequency, collection frequency,
# and the sorted posting list — the retrieval-side dual of TF-IDF.
# One shuffle on term; posting arrays stay bounded by df (and at
# 100 TB the high-df tail would be cut by the same HAVING threshold
# the query demonstrates).
# --------------------------------------------------------------------------


@query(
    "inverted_index",
    oracle="""
SELECT term,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(COUNT(*) AS BIGINT) AS cf,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
)
GROUP BY term
HAVING COUNT(DISTINCT doc_id) >= 50
""",
)
def inverted_index_q(spark, sf_dir):
    # Gate-output rule: no ARRAY columns through the driver harness
    # (its pandas canonicalizer can't hash lists) — ship the sorted
    # posting list as one comma-joined string on both sides. The
    # array form remains available by dropping the concat_ws.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    return (
        toks.groupBy("term")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
            F.concat_ws(",", F.array_sort(F.collect_set("doc_id"))).alias(
                "postings"
            ),
        )
        .filter(F.col("df") >= 50)
    )


# --------------------------------------------------------------------------
# Corpus-wide sentence dedup (boilerplate removal): a sentence kept
# only at its first occurrence (min doc_id, then min position within
# that doc). Per-doc output: sentences total vs kept — the signal a
# cleaning pass uses to drop boilerplate-heavy documents.
# --------------------------------------------------------------------------


@query(
    "sentence_dedup",
    oracle="""
WITH sents AS (
  SELECT doc_id, unnest(string_split(text, '. ')) AS sent
  FROM documents
), firsts AS (
  SELECT sent, MIN(doc_id) AS first_doc FROM sents GROUP BY sent
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(COUNT(*) FILTER (WHERE s.doc_id = f.first_doc) AS BIGINT) AS n_kept
FROM sents s JOIN firsts f USING (sent)
GROUP BY s.doc_id
""",
)
def sentence_dedup_q(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sents = docs.select(
        "doc_id", F.posexplode(F.split("text", "\\. ")).alias("pos", "sent")
    )
    firsts = sents.groupBy("sent").agg(F.min("doc_id").alias("first_doc"))
    return (
        sents.join(firsts, "sent")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sentences"),
            F.count(F.when(F.col("doc_id") == F.col("first_doc"), 1)).alias(
                "n_kept"
            ),
        )
    )


# --------------------------------------------------------------------------
# PII redaction: email / URL scrubbing with regexes kept inside the
# Java-regex ∩ RE2 dialect (no backrefs/lookaround) so both engines
# replace identically. The corpus is synthetic word soup with no PII,
# so each row plants a deterministic email + URL derived from doc_id —
# the gate then proves the redaction FIRES (counts ≥ 1 per row) and
# produces byte-identical scrubbed text on both engines.
# --------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_URL_RE = "https?://[^ ]+"


@query(
    "redact_pii",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.com/u/' || CAST(doc_id AS VARCHAR)
           AS ptext
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(ptext, '{_EMAIL_RE}', '<email>', 'g'),
                          '{_URL_RE}', '<url>', 'g')) AS redacted_fp,
       CAST(len(regexp_extract_all(ptext, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(ptext, '{_URL_RE}')) AS BIGINT) AS n_urls
FROM planted
""",
)
def redact_pii(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ptext = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://ex.com/u/"),
        F.col("doc_id").cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(ptext, _EMAIL_RE, "<email>"), _URL_RE, "<url>"
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("redacted_fp"),
        F.regexp_count(ptext, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(ptext, F.lit(_URL_RE)).cast("long").alias("n_urls"),
    )


# --------------------------------------------------------------------------
# Training-subset filter: the end-to-end acceptance pipeline — keep
# documents that are (a) predicted English, (b) above a quality
# threshold, (c) inside a token-length band, and (d) the first
# occurrence of their normalized fingerprint (exact dedup). One scan,
# one light agg for (d); everything else is per-row codegen.
# --------------------------------------------------------------------------


@query(
    "training_subset",
    oracle=rf"""
WITH scored AS (
  SELECT doc_id,
         {sql_lang_id('text')} AS lang_pred,
         {sql_quality_score('text')} AS quality,
         CAST({sql_token_count('text')} AS BIGINT) AS n_tokens,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), firsts AS (
  SELECT fp, MIN(doc_id) AS keeper FROM scored GROUP BY fp
)
SELECT s.doc_id, s.lang_pred, s.quality, s.n_tokens
FROM scored s JOIN firsts f USING (fp)
WHERE s.doc_id = f.keeper
  AND s.lang_pred = 'en'
  AND s.quality >= 0.3
  AND s.n_tokens BETWEEN 20 AND 1000
ORDER BY s.doc_id
""",
)
def training_subset_q(spark, sf_dir):
    from shmr_spark.functions.hashing import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        token_count("text").cast("long").alias("n_tokens"),
        fingerprint_md5("text").alias("fp"),
    )
    keepers = scored.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    return (
        scored.join(keepers, "fp")
        .filter(
            (F.col("doc_id") == F.col("keeper"))
            & (F.col("lang_pred") == "en")
            & (F.col("quality") >= 0.3)
            & (F.col("n_tokens").between(20, 1000))
        )
        .select("doc_id", "lang_pred", "quality", "n_tokens")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Budgeted corpus selection (operators/selection.py): greedy
# highest-quality-first cut at a global token budget. The oracle
# states the semantics as ONE global window cumsum over
# (quality DESC, doc_id); the Spark side runs the distributed
# two-phase prefix sum over score-quantized buckets — the same
# single-task-window avoidance proved for pack_sequences.
# --------------------------------------------------------------------------


@query(
    "token_budget_select",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         {sql_quality_score('text')} AS quality,
         {sql_token_count('text')} AS n_tokens
  FROM documents
)
SELECT doc_id, quality, n_tokens, start_tok FROM (
  SELECT doc_id, quality, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM scored
) WHERE start_tok < 20000
""",
)
def token_budget_select(spark, sf_dir):
    from shmr_spark.operators.selection import select_by_token_budget

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    return select_by_token_budget(scored, budget=20000)


# --------------------------------------------------------------------------
# Incremental (append-only) dedup (dedup/incremental.py): the batch
# ingest shape — new docs checked against the persisted fingerprint
# state, never against corpus texts. Gate: even doc_ids play the
# accepted corpus, odd doc_ids the incoming batch.
# --------------------------------------------------------------------------


@query(
    "dedup_incremental",
    oracle=r"""
WITH state AS (
  SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 2 = 1
), firsts AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM batch GROUP BY fp
)
SELECT f.doc_id, f.fp FROM firsts f
WHERE NOT EXISTS (SELECT 1 FROM state s WHERE s.fp = f.fp)
""",
)
def dedup_incremental(spark, sf_dir):
    from shmr_spark.dedup.incremental import (
        fingerprint_state,
        incremental_dedup_exact,
    )

    docs = load_table(spark, sf_dir, "documents")
    state = fingerprint_state(docs.filter(F.col("doc_id") % 2 == 0))
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup_exact(batch, state).select(
        "doc_id", F.col("__fp").alias("fp")
    )


# --------------------------------------------------------------------------
# Incremental NEAR-dup ingest (dedup/incremental.py): batch docs
# rejected when an LSH candidate link to the accepted corpus (or an
# earlier batch doc) survives exact-Jaccard verification. Gate runs
# single-row banding (bands = num_hashes = 64), where the candidate
# set provably covers every Jaccard>=0.5 pair (miss probability
# (1-j)^64 < 1e-19 — same argument as the dedup_minhash gate), so the
# SQL twin is the exact pair set via the shared postings-join
# fragment (queries/text.py NEARDUP_PAIRS_SQL): a batch doc g (odd
# id) is rejected iff some over-threshold pair links it to a state
# doc (even id) or an earlier batch doc — for the unordered pair
# (u, v) with u < v that is "v even" when g = u, and always when
# g = v (u < g by construction).
# --------------------------------------------------------------------------


@query(
    "dedup_minhash_incremental",
    oracle=f"""
WITH {NEARDUP_PAIRS_SQL}
SELECT d.doc_id FROM documents d
WHERE d.doc_id % 2 = 1
  AND NOT EXISTS (
    SELECT 1 FROM pairs p
    WHERE (p.u = d.doc_id AND p.v % 2 = 0)
       OR p.v = d.doc_id
  )
""",
)
def dedup_minhash_incremental(spark, sf_dir):
    from shmr_spark.dedup.incremental import incremental_dedup_minhash

    docs = load_table(spark, sf_dir, "documents")
    state = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup_minhash(
        batch, state, threshold=0.5, num_hashes=64, bands=64
    ).select("doc_id")


# --------------------------------------------------------------------------
# Incremental rollup maintenance (operators/rollup_incremental.py):
# a daily continuous aggregate kept fresh by merging batch partials
# into touched-day state rows only. The gate splits events on
# event_id parity, builds state from the even half, merges the odd
# half, and reads the merged state out — which must be BIT-IDENTICAL
# to a full recompute over all events (the oracle). The exact
# identity holds because the sum partial is the 10^6-scaled int64 of
# the dsum discipline, not a double.
# --------------------------------------------------------------------------


@query(
    "rollup_incremental",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       {sql_dsum('value')} AS sum_value,
       ({sql_dsum('value')} / CAST(COUNT(*) AS DOUBLE)) AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
""",
)
def rollup_incremental(spark, sf_dir):
    from shmr_spark.operators.rollup_incremental import (
        merge_rollup,
        rollup_events,
        rollup_readout,
    )

    ev = load_table(spark, sf_dir, "events")
    state = rollup_events(ev.filter(F.col("event_id") % 2 == 0))
    merged = merge_rollup(state, ev.filter(F.col("event_id") % 2 == 1))
    return rollup_readout(merged)


# --------------------------------------------------------------------------
# Exact-substring duplicate spans (dedup/spans.py): repeated token
# 13-grams anywhere in the corpus, merged per document into maximal
# token spans — the Spark-first equivalent of suffix-array substring
# dedup (Lee et al.). The oracle rebuilds the same function in SQL:
# grams by position, HAVING count>=2, islands via the
# running-max-end window, one row per merged span. Spark carries
# xxhash64(gram) instead of the gram text; the oracle groups the
# strings themselves — a hash collision would break parity, which is
# the point of checking it (none at gate scale).
# --------------------------------------------------------------------------


@query(
    "duplicate_spans",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i : i + 12], ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 12)) AS i FROM toks)
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
), hits AS (
  SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
), brk AS (
  SELECT doc_id, pos,
    CASE WHEN pos > COALESCE(MAX(pos + 12) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         THEN 1 ELSE 0 END AS b
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 12 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island
""",
)
def duplicate_spans(spark, sf_dir):
    from shmr_spark.dedup.spans import duplicated_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_ngram_spans(docs, n=13)


# --------------------------------------------------------------------------
# Incremental-ingest change detection + deterministic range sharding.
# --------------------------------------------------------------------------


@query(
    "corpus_snapshot_diff",
    oracle="""
WITH new_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         lang, source
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source
  FROM documents WHERE doc_id % 103 = 0
)
SELECT doc_id, status FROM (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.text <> n.text OR o.lang <> n.lang
                   OR o.source <> n.source THEN 'changed'
         END AS status
  FROM documents o FULL OUTER JOIN new_docs n ON o.doc_id = n.doc_id
) WHERE status IS NOT NULL
ORDER BY doc_id
""",
)
def corpus_snapshot_diff(spark, sf_dir):
    """Diff two corpus snapshots (operators/diff.py): v2 is v1 with a
    deterministic delete (%97), edit (%101, ' [rev2]' suffix), and
    insert (%103, id+1e6) wave. The operator compares (id, xxhash64)
    projections only — payloads never cross the shuffle — and the
    oracle recomputes the same three-way status from raw equality,
    so a hash-discipline bug on either side breaks parity."""
    from shmr_spark.operators.diff import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    edited = F.when(
        F.col("doc_id") % 101 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    new = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", edited.alias("text"), "lang", "source")
        .unionByName(
            docs.filter(F.col("doc_id") % 103 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "text",
                "lang",
                "source",
            )
        )
    )
    return snapshot_diff(docs, new, ["doc_id"], ["text", "lang", "source"]).orderBy(
        "doc_id"
    )


@query(
    "range_shards_orders",
    oracle="""
WITH ranked AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
)
SELECT CAST((rn - 1) * 8 // n AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS cnt,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM ranked
GROUP BY 1 ORDER BY shard_id
""",
)
def range_shards_orders(spark, sf_dir):
    """Equal-population, key-contiguous sharding of orders by total
    price via the distributed two-phase rank (operators/ranking.py) —
    the deterministic, oracle-checkable stand-in for
    repartitionByRange + sorted export. Shard populations differ by
    at most one row; min/max per shard prove key contiguity. The
    oracle's single-task row_number() is the semantics spec; the
    Spark side never funnels through one partition."""
    from shmr_spark.operators.ranking import range_shards

    orders = load_table(spark, sf_dir, "orders")
    sharded = range_shards(orders, "o_totalprice", "o_orderkey", n_shards=8)
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# Layout-tier canary: small-file compaction (sources/writers.py
# compact_dataset — the distributed-write analog of the reference's
# partitions.coalesce, /root/reference/shmr/partitions.py:81-123)
# routed through the DRIVER hash gate. pytest pins the layout
# properties (file counts, sizing, swap safety); this query gives the
# component a driver-green row too: orders is scattered into many
# small parquet files in a scratch dir, compacted in place, and the
# POST-compaction content (per-status row counts + exact integer sums
# + price cents) must hash-equal the direct-scan oracle — a lossy or
# corrupting rewrite cannot pass. The gate additionally asserts the
# pass actually compacted (files_after < files_before), so a silent
# no-op fails loudly rather than vacuously passing.
#
# The result is collected (<= 3 status rows) before the scratch dir
# is removed, then re-wrapped — the returned DataFrame must not read
# lazily from a deleted path.
# --------------------------------------------------------------------------


@query(
    "compact_roundtrip",
    oracle="""
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY status
""",
)
def compact_roundtrip(spark, sf_dir):
    """Compaction content-preservation under the hash gate: scatter ->
    compact_dataset -> re-aggregate must equal the direct oracle scan.
    Prices go through round(x*100) on BOTH engines so the cent sum is
    integer-exact (o_totalprice has 2 decimals; the true cent value is
    integral, float error is ~1e-9 — far from any .5 boundary)."""
    import os
    import shutil
    import tempfile

    from shmr_spark.sources.writers import compact_dataset

    d = tempfile.mkdtemp(prefix="shmr_compact_gate_")
    path = os.path.join(d, "orders")
    try:
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(path)
        )
        stats = compact_dataset(spark, path, target_file_mb=128)
        if stats["files_after"] >= stats["files_before"]:
            raise RuntimeError(
                "compaction did not reduce file count "
                f"({stats['files_before']} -> {stats['files_after']})"
            )
        rows = (
            spark.read.parquet(path)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_custkey").alias("custkey_sum"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                .alias("price_cents"),
            )
            .orderBy("status")
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows, "status string, n_rows long, custkey_sum long, price_cents long"
    )


# --------------------------------------------------------------------------
# Layout-tier canary 2: bucketed tables (sources/bucketed.py — the
# persistent-storage analog of the reference's split_by_key,
# /root/reference/shmr/partition.py:239-261) under the DRIVER hash
# gate. pytest pins the no-Exchange physical plans; this query signs
# the CONTENT through the bucketed path and re-asserts the layout
# property inline: customer and orders are written bucketed by the
# join key into scratch managed tables, the bucketed equi-join +
# same-key aggregation must plan with ZERO exchanges (a lost bucket
# spec fails the gate loudly), and the per-custkey totals must
# hash-equal the plain-scan oracle.
# --------------------------------------------------------------------------


@query(
    "bucketed_join_roundtrip",
    oracle="""
SELECT c_custkey AS custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE c_custkey < 200
GROUP BY c_custkey
ORDER BY custkey
""",
)
def bucketed_join_roundtrip(spark, sf_dir):
    """Bucketed-join content preservation: scratch bucketBy(8) tables,
    join + groupBy on the bucket key — clustering flows scan->join->agg
    so the executed plan must contain no Exchange at all; the result
    is collected (< 200 rows) before the tables are dropped."""
    from shmr_spark.sources.bucketed import write_bucketed

    cust = "gate_bucketed_customer"
    ords = "gate_bucketed_orders"
    try:
        write_bucketed(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            cust,
            key="c_custkey",
            num_buckets=8,
        )
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey", "o_orderkey"
            ),
            ords,
            key="o_custkey",
            num_buckets=8,
        )
        joined = (
            spark.table(cust)
            .filter(F.col("c_custkey") < 200)
            # merge hint: at gate scale Catalyst would broadcast the
            # filtered side (also shuffle-free, but it bypasses the
            # layout under test); the hint forces the sort-merge path
            # where bucket clustering is what removes the exchange
            .hint("merge")
            .join(
                spark.table(ords),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            .groupBy(F.col("c_custkey").alias("custkey"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_orderkey").alias("orderkey_sum"),
            )
            .orderBy("custkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange hashpartitioning" in plan:
            raise RuntimeError(
                "bucketed join/agg planned a SHUFFLE exchange — the "
                "bucket layout was not picked up:\n" + plan[:2000]
            )
        if "SortMergeJoin" not in plan:
            raise RuntimeError(
                "expected the bucketed SortMergeJoin path:\n" + plan[:2000]
            )
        rows = joined.collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cust}")
        spark.sql(f"DROP TABLE IF EXISTS {ords}")
    return spark.createDataFrame(
        rows, "custkey long, n_orders long, orderkey_sum long"
    )


# --------------------------------------------------------------------------
# Interop-tier canary: the shmr Python DataSource
# (sources/shmr_datasource.py — reads/writes the REFERENCE CLI's own
# partition-file format, ndjson/csv + gz + .meta sidecars) under the
# DRIVER hash gate. pytest proves interop against the reference
# binary; this query signs a full write->read round trip: orders
# projected and written as shmr partition files in a scratch dir,
# read back through the DataSource (small files share a read task),
# and the re-aggregated per-status totals must hash-equal the
# plain-scan oracle. Collected (<= 3 rows) before the scratch dir is
# removed.
# --------------------------------------------------------------------------


@query(
    "shmr_datasource_roundtrip",
    oracle="""
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
FROM orders
GROUP BY o_orderstatus
ORDER BY status
""",
)
def shmr_datasource_roundtrip(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from shmr_spark.sources.shmr_datasource import ShmrDataSource

    # Python DataSource registration lives in the ACTIVE session's
    # DataSourceManager, and under pinned-thread mode a fresh worker
    # thread's JVM twin has no active session — format("shmr") then
    # fails DATA_SOURCE_NOT_FOUND even though `spark` is passed
    # explicitly (observed on the gate-schema walk's watchdog
    # threads). Pin the active session for THIS thread first.
    spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
        spark._jsparkSession
    )
    spark.dataSource.register(ShmrDataSource)
    d = tempfile.mkdtemp(prefix="shmr_ds_gate_")
    out = os.path.join(d, "orders_shmr")
    try:
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_custkey")
            .repartition(8)
            .write.format("shmr")
            .mode("append")
            .save(out)
        )
        back = (
            spark.read.format("shmr")
            .schema("o_orderkey bigint, o_orderstatus string, o_custkey bigint")
            .load(f"{out}/part-*.json")
        )
        rows = (
            back.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_custkey").alias("custkey_sum"),
            )
            .orderBy("status")
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows, "status string, n_rows long, custkey_sum long"
    )


# --------------------------------------------------------------------------
# Layout-tier canary 3: sorted-shard export (sources/writers.py
# write_sorted_shards — the globally-sorted balanced-shard layout a
# curriculum-ordered corpus export wants) under the DRIVER hash gate,
# completing driver signatures for every layout/interop component.
# pytest pins the physical layout (per-file sortedness, directory
# structure); this query signs the shard ASSIGNMENT + content through
# the written files: orders is exported as 8 equal-population
# key-contiguous shards into a scratch dir, read back THROUGH the
# partitioned layout, and the per-shard (count, min/max price, key
# sum) must hash-equal the oracle's row_number definition — the same
# deterministic two-phase-rank semantics range_shards_orders pins
# in-plan, here proven through the storage round trip. Collected
# (8 rows) before the scratch dir is removed.
# --------------------------------------------------------------------------


@query(
    "sorted_shards_roundtrip",
    oracle="""
WITH ranked AS (
  SELECT o_totalprice, o_orderkey,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
)
SELECT CAST((rn - 1) * 8 // n AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS cnt,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum
FROM ranked
GROUP BY 1 ORDER BY shard_id
""",
)
def sorted_shards_roundtrip(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from shmr_spark.sources.writers import write_sorted_shards

    d = tempfile.mkdtemp(prefix="shmr_shards_gate_")
    path = os.path.join(d, "orders_sharded")
    try:
        write_sorted_shards(
            load_table(spark, sf_dir, "orders").select(
                "o_totalprice", "o_orderkey"
            ),
            path,
            key_col="o_totalprice",
            id_col="o_orderkey",
            n_shards=8,
        )
        rows = (
            spark.read.parquet(path)
            .groupBy(F.col("shard_id").cast("long").alias("shard_id"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("o_totalprice").alias("min_price"),
                F.max("o_totalprice").alias("max_price"),
                F.sum("o_orderkey").alias("orderkey_sum"),
            )
            .orderBy("shard_id")
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "shard_id long, cnt long, min_price double, max_price double, "
        "orderkey_sum long",
    )
