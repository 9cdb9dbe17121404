"""Seeded input generators for the two benchmark workloads.

Every timed job gets its own input: the generators take ``(seed, job)``
and derive one ``numpy`` generator from both, so the same seed always
gives the same bytes and two jobs of one run never share a file (no
plan-keyed or path-keyed cache can serve a later job).

The shapes follow the engine's synthetic test corpus (``documents``
and ``lineitem``/``orders`` tables): same column names and types, same
value domains, scaled to what one closed-loop job of a few seconds can
process on two cores.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])

# lineitem-derived shmr records: one row per line item, keyed by order
SHMR_SCHEMA = (
    "l_orderkey bigint, l_suppkey bigint, l_quantity double, "
    "l_extendedprice double, l_discount double, l_returnflag string"
)
ORDERS_SCHEMA = "o_orderkey bigint, o_custkey bigint, o_orderpriority string"
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
FLAGS = np.array(["A", "N", "R"])


def rng_for(seed: int, job: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(job)])


def documents(seed: int, job: int, n_docs: int, out_dir: str) -> dict:
    """Write ``out_dir/documents.parquet``: random-vocabulary documents
    of 10–100 tokens, about 5% near-duplicates (an earlier document
    plus a trailing ``dup`` token) and 1% exact duplicates, so every
    dedup stage of the training pipeline has work."""
    rng = rng_for(seed, job)
    lens = rng.integers(10, 101, n_docs)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    n_near = n_docs // 20
    n_exact = n_docs // 100
    src = rng.integers(0, n_docs // 2, n_near + n_exact)
    dst = rng.choice(np.arange(n_docs // 2, n_docs), n_near + n_exact, replace=False)
    for i, (s, d) in enumerate(zip(src, dst)):
        texts[d] = texts[s] + " dup" if i < n_near else texts[s]
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
            "source": np.char.add("src", (np.arange(n_docs) % 5).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {"files": 1, "records": n_docs}


def shmr_partitions(
    seed: int, job: int, n_records: int, n_files: int, out_dir: str
) -> dict:
    """Write ``out_dir/in/part-NNNNN.json`` ND-JSON partitions with
    their ``.meta`` sidecars, plus the ``orders`` dimension as
    ``out_dir/orders.parquet``."""
    rng = rng_for(seed, job)
    n_orders = max(1, n_records // 4)
    li = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_records),
            "l_suppkey": rng.integers(0, 1000, n_records),
            "l_quantity": rng.integers(1, 51, n_records).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_records), 2),
            "l_discount": rng.integers(0, 11, n_records) / 100.0,
            "l_returnflag": FLAGS[rng.integers(0, len(FLAGS), n_records)],
        }
    )
    in_dir = os.path.join(out_dir, "in")
    os.makedirs(in_dir, exist_ok=True)
    n_bytes = 0
    for i, part in enumerate(np.array_split(np.arange(n_records), n_files)):
        path = os.path.join(in_dir, f"part-{i:05d}.json")
        li.iloc[part].to_json(path, orient="records", lines=True)
        with open(os.path.join(in_dir, f"part-{i:05d}.meta"), "w") as m:
            json.dump({"n_records": len(part)}, m)
        n_bytes += os.path.getsize(path)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, 15000, n_orders),
            "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n_orders)],
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
    return {"files": n_files, "records": n_records, "bytes": n_bytes}
