"""The benchmark's workloads: how each one stages a job's input, runs
the job, checks its output and names the calls its traced run spans.

A workload object lives for one run (one SparkSession). ``stage`` and
``check`` are off the timed path; ``run`` is the timed job.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import duckdb
import pandas as pd

import gen


@dataclass
class JobInput:
    job: int
    dir: str
    records: int
    files_in: int
    bytes_in: int


class LlmPipeline:
    """``training_pipeline`` in quality mode over a fresh documents
    corpus per job. Driver-heavy: plan build, Catalyst over large
    plans, persist, small shuffles and no Python workers."""

    name = "llm_pipeline"
    # Warm-up jobs (part of set-up) and the fewest timed jobs a run
    # takes, sized from measured convergence: see README.md.
    warmup, min_jobs = 2, 3
    n_docs = 300
    n_shards = 16
    pack_budget = 2048
    stages = (
        "load_table",
        "dedup_exact_keep_first",
        "minhash_near_duplicates",
        "dedup_keep_cluster_representative",
        "select_by_token_fraction_from_totals",
        "pack_sequences",
        "range_shards",
    )
    # committed output digests of the default seed, by job index
    DIGESTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "llm_digests.json")

    def __init__(self, spark, work: str, seed: int):
        from shmr_spark.operators import training_pipeline as tp

        self.spark, self.work, self.seed, self.tp = spark, work, seed, tp
        with open(self.DIGESTS_FILE) as f:
            digests = json.load(f)
        self.digests = digests["jobs"] if seed == digests["seed"] else {}
        self.seen_digests: dict[str, str] = {}

    def stage(self, job: int) -> JobInput:
        d = os.path.join(self.work, f"llm-{job}")
        gen.documents(self.seed, job, self.n_docs, d)
        path = os.path.join(d, "documents.parquet")
        return JobInput(job, d, self.n_docs, 1, os.path.getsize(path))

    def run(self, inp: JobInput):
        out = self.tp.training_pipeline(
            self.spark, inp.dir, n_shards=self.n_shards, pack_budget=self.pack_budget
        )
        return out.collect()

    def outputs(self, inp: JobInput, rows) -> tuple[int, int, int]:
        return 0, 0, len(rows)  # collected to the driver, no files

    def release(self, inp: JobInput) -> None:
        self.tp.clear_pipeline_caches()
        shutil.rmtree(inp.dir, ignore_errors=True)

    def trace_targets(self):
        from pyspark.sql.classic.dataframe import DataFrame

        tp = self.tp
        return [(tp, "training_pipeline", "llm.training_pipeline", "build")] + [
            (tp, s, f"llm.{s}", "build") for s in self.stages
        ] + [
            (DataFrame, a, f"action.{a}", "action")
            for a in ("collect", "count", "toPandas", "take", "first", "head")
        ]

    @staticmethod
    def digest(rows) -> str:
        h = hashlib.sha256()
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            h.update(
                repr(
                    (r["doc_id"], repr(r["quality"]), r["n_tokens"], r["start_tok"], r["pack_id"], r["shard_id"])
                ).encode()
            )
        return h.hexdigest()

    def check(self, inp: JobInput, rows) -> list[str]:
        """The pipeline's invariant chain: counts only shrink, exact
        duplicates are gone, packing conserves tokens, shards are
        balanced and contiguous; plus the committed digest."""
        errs = []
        docs = pd.read_parquet(os.path.join(inp.dir, "documents.parquet"))
        norm = docs.set_index("doc_id")["text"].str.lower().str.replace(" +", " ", regex=True).str.strip()
        out = pd.DataFrame([r.asDict() for r in rows])
        if not 0 < len(out) <= len(docs):
            return [f"{len(out)} output rows for {len(docs)} documents"]
        if out["doc_id"].duplicated().any() or not out["doc_id"].isin(norm.index).all():
            errs.append("doc ids not a unique subset of the input")
        kept = norm.loc[out["doc_id"]]
        if kept.duplicated().any():
            errs.append("an exact duplicate survived")
        if not (out.set_index("doc_id")["n_tokens"] == kept.str.split(" ").str.len()).all():
            errs.append("n_tokens differs from the input's token count")
        out = out.sort_values("doc_id")
        starts = out["n_tokens"].cumsum() - out["n_tokens"]
        if not (out["start_tok"].to_numpy() == starts.to_numpy()).all():
            errs.append("start_tok is not the exclusive token prefix sum")
        if not (out["pack_id"] == out["start_tok"] // self.pack_budget).all():
            errs.append("pack_id != start_tok // budget")
        # the greedy cut keeps rows ranked before half the survivors'
        # tokens, so at most half the input's plus one document
        budget = norm.str.split(" ").str.len().sum() / 2
        if out["n_tokens"].sum() > budget + out["n_tokens"].max():
            errs.append("selection exceeded the token budget")
        pops = out.groupby("shard_id").size()
        if len(pops) > self.n_shards or pops.max() - pops.min() > 1:
            errs.append(f"unbalanced shards {pops.tolist()}")
        bounds = out.groupby("shard_id")["start_tok"].agg(["min", "max"]).sort_index()
        if (bounds["max"].to_numpy()[:-1] > bounds["min"].to_numpy()[1:]).any():
            errs.append("shard start_tok ranges overlap")
        got = self.seen_digests[str(inp.job)] = self.digest(rows)
        want = self.digests.get(str(inp.job))
        if want is not None and want != got:
            errs.append(f"digest of job {inp.job} differs from the committed one")
        return errs


ORDERS_JOIN_SQL = """
SELECT l.l_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
       count(*) AS n_lines, o.o_orderpriority
FROM read_json('{glob}', format = 'newline_delimited', columns = {{
        l_orderkey: 'BIGINT', l_suppkey: 'BIGINT', l_quantity: 'DOUBLE',
        l_extendedprice: 'DOUBLE', l_discount: 'DOUBLE', l_returnflag: 'VARCHAR'}}) l
JOIN read_parquet('{orders}') o ON l.l_orderkey = o.o_orderkey
WHERE l.l_discount <= 0.05::DOUBLE
GROUP BY l.l_orderkey, o.o_orderpriority
"""


class ShmrPartitions:
    """The paper's own job: read ND-JSON shmr partitions with
    ``.meta`` sidecars, filter, reduce by key, join an orders
    dimension and write shmr partitions back. Executor-heavy: Python
    data source decode with one task per file, two exchanges and the
    sidecar-writing sink."""

    name = "shmr_partitions"
    warmup, min_jobs = 2, 3
    n_records = 12_000
    n_files = 8

    def __init__(self, spark, work: str, seed: int):
        from shmr_spark.sources import ShmrDataSource

        self.spark, self.work, self.seed = spark, work, seed
        spark.dataSource.register(ShmrDataSource)

    def stage(self, job: int) -> JobInput:
        d = os.path.join(self.work, f"shmr-{job}")
        info = gen.shmr_partitions(self.seed, job, self.n_records, self.n_files, d)
        return JobInput(job, d, info["records"], info["files"], info["bytes"])

    def run(self, inp: JobInput):
        from pyspark.sql import functions as F

        from shmr_spark.dataset import Dataset

        lines = Dataset(
            self.spark.read.format("shmr")
            .schema(gen.SHMR_SCHEMA)
            .load(os.path.join(inp.dir, "in", "part-*.json"))
        )
        orders = Dataset(self.spark.read.parquet(os.path.join(inp.dir, "orders.parquet")))
        out = (
            lines.filter(F.col("l_discount") <= 0.05)
            .reduce_by_key(
                ["l_orderkey"],
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
                F.count("*").alias("n_lines"),
            )
            .join(
                orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"),
                "l_orderkey",
            )
        )
        out.df.write.format("shmr").mode("overwrite").save(os.path.join(inp.dir, "out"))

    def outputs(self, inp: JobInput, out) -> tuple[int, int, int]:
        parts = glob.glob(os.path.join(inp.dir, "out", "part-*.json"))
        with open(os.path.join(inp.dir, "out", "_SUCCESS")) as f:
            records = json.load(f)["n_records"]
        return len(parts), sum(os.path.getsize(p) for p in parts), records

    def release(self, inp: JobInput) -> None:
        shutil.rmtree(inp.dir, ignore_errors=True)

    def trace_targets(self):
        from pyspark.sql import DataFrameWriter

        from shmr_spark.dataset import Dataset

        return [
            (Dataset, a, f"dataset.{a}", "build")
            for a in ("filter", "reduce_by_key", "join", "select")
        ] + [(DataFrameWriter, "save", "write.save", "write")]

    def check(self, inp: JobInput, out) -> list[str]:
        """DuckDB over the same generated files must give the same
        rows; every part file's ``.meta`` sidecar and ``_SUCCESS``
        must count its records."""
        errs = []
        out_dir = os.path.join(inp.dir, "out")
        got = {}
        n_total = 0
        for part in sorted(glob.glob(os.path.join(out_dir, "part-*.json"))):
            with open(part) as f:
                recs = [json.loads(line) for line in f]
            with open(os.path.splitext(part)[0] + ".meta") as f:
                if json.load(f)["n_records"] != len(recs):
                    errs.append(f"{os.path.basename(part)}: .meta count is wrong")
            n_total += len(recs)
            for r in recs:
                got[r["l_orderkey"]] = (r["revenue"], r["n_lines"], r["o_orderpriority"])
        with open(os.path.join(out_dir, "_SUCCESS")) as f:
            if json.load(f)["n_records"] != n_total:
                errs.append("_SUCCESS count is wrong")
        con = duckdb.connect(config={"threads": 1})
        try:
            want = con.execute(
                ORDERS_JOIN_SQL.format(
                    glob=os.path.join(inp.dir, "in", "part-*.json"),
                    orders=os.path.join(inp.dir, "orders.parquet"),
                )
            ).fetchall()
        finally:
            con.close()
        if n_total != len(got) or len(got) != len(want):
            return errs + [f"{n_total} rows written, DuckDB gives {len(want)}"]
        for key, revenue, n_lines, prio in want:
            g = got.get(key)
            if g is None or g[1:] != (n_lines, prio) or abs(g[0] - revenue) > 1e-9 * max(1.0, abs(revenue)):
                errs.append(f"order {key}: wrote {g}, DuckDB gives {(revenue, n_lines, prio)}")
                break
        return errs


WORKLOADS = {w.name: w for w in (LlmPipeline, ShmrPartitions)}
