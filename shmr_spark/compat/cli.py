"""Drop-in CLI with the reference's command surface
(``python -m shmr_spark -i <glob> partition.map --fn m.f --outfile o``)
executed on Spark.

Semantic upgrades over the reference (documented, deliberate):

- A glob runs DISTRIBUTED in one invocation — no xargs -P loop; Spark
  is the scheduler (the reference's parallelism model, SURVEY.md §0).
- ``partition.*`` and ``partitions.*`` share implementations: a
  Dataset is the whole glob. Per-file scoping survives only where it
  is semantic (distinct's first-occurrence order, reduce's fold
  order) via a global record index in glob-file order.
- ``partition.join``'s shipped TypeError crash
  (/root/reference/shmr/partition.py:315, SURVEY.md §2 #11) is NOT
  reproduced; we implement the intended inner cogroup semantics.
- ``partitions.coalesce``'s per-input rotation overflow quirk
  (SURVEY.md §2 #14) is NOT reproduced: output chunks honor
  records_per_partition exactly.

Record semantics (seeding rules, key conventions) follow SURVEY.md §2
exactly; output files are single files (not part-directories) with
``{stem}`` / ``{auto}`` / ``*`` templates and ``.meta`` sidecars
(``{"n_records": N}``) for count memoization parity. gzip/bz2 are
honored on read (Spark native) and write (multi-member concat of part
files is a valid gzip/bz2 stream).
"""

from __future__ import annotations

import argparse
import glob as globmod
import json
import math
import os
import shutil
import sys
import tempfile
from typing import Any

from shmr_spark.compat.funcs import json_dumps, json_loads, resolve_fn
from shmr_spark.session import get_spark
from shmr_spark.sources.shmr_datasource import _meta_path, _open_by_ext, _write_meta


# -- I/O helpers -----------------------------------------------------------


def _expand(infile: str) -> list[str]:
    paths = sorted(globmod.glob(infile)) if any(c in infile for c in "*?[") else [infile]
    if not paths:
        raise FileNotFoundError(f"no partition matches: {infile}")
    return paths


def _stem(path: str) -> str:
    name = os.path.basename(path)
    for ext in (".gz", ".bz2"):
        if name.endswith(ext):
            name = name[: -len(ext)]
    return os.path.splitext(name)[0]


def _outpath(template: str, stem: str, auto: int | None = None) -> str:
    out = template.replace("{stem}", stem)
    if auto is not None:
        out = out.replace("{auto}", f"{auto:05d}").replace("*", f"{auto:05d}").replace(
            "{}", f"{auto:05d}"
        )
    else:
        out = out.replace("{auto}", stem).replace("*", stem).replace("{}", stem)
    return out


def _save_lines(rdd, outfile: str, auto_mkdir: bool = True, delete_on_empty: bool = False) -> int:
    """Persist an RDD of serialized bytes as ONE file + .meta sidecar.
    Parts stream through a temp saveAsTextFile dir and concatenate —
    no driver materialization of the data."""
    if auto_mkdir:
        os.makedirs(os.path.dirname(os.path.abspath(outfile)), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="shmr_spark_out_")
    target = os.path.join(tmp, "d")
    text = rdd.map(lambda b: b.decode() if isinstance(b, (bytes, bytearray)) else str(b))
    text.saveAsTextFile(target)
    n = 0
    with _open_by_ext(outfile, "wb") as out:
        for part in sorted(os.listdir(target)):
            if not part.startswith("part-"):
                continue
            with open(os.path.join(target, part), "rb") as f:
                for line in f:
                    out.write(line)
                    n += 1
    shutil.rmtree(tmp)
    if n == 0 and delete_on_empty:
        os.remove(outfile)
        return 0
    _write_meta(outfile, n)
    return n


class PartitionIO:
    """Reader for one partition glob with the reference codec model."""

    def __init__(self, spark, infile: str, deser_fn: str, ser_fn: str, skip_nrows: int):
        self.spark = spark
        self.paths = _expand(infile)
        self.deser = resolve_fn(deser_fn)
        self.ser = resolve_fn(ser_fn)
        self.skip_nrows = skip_nrows
        self.stem = _stem(self.paths[0]) if len(self.paths) == 1 else ""

    def lines(self):
        """RDD of raw lines in glob-file order, headers skipped
        per file (the reference's --skip_nrows)."""
        sc = self.spark.sparkContext
        rdds = []
        for p in self.paths:
            r = sc.textFile(p)
            if self.skip_nrows:
                k = self.skip_nrows
                r = (
                    r.zipWithIndex()
                    .filter(lambda li, k=k: li[1] >= k)
                    .map(lambda li: li[0])
                )
            rdds.append(r)
        return sc.union(rdds)

    def records(self):
        deser = self.deser
        return self.lines().map(lambda line: deser(line))


# -- operators -------------------------------------------------------------


def op_head(io: PartitionIO, n: int) -> None:
    for line in io.lines().take(n):
        sys.stdout.write(line + "\n")


def op_count(io: PartitionIO, outfile: str | None = None, auto_mkdir: bool = False) -> None:
    # .meta sidecar memoization parity: trust sidecars when every
    # partition has one (written by our own writers and the reference's)
    total = 0
    memoized = True
    for p in io.paths:
        meta = _meta_path(p)
        if os.path.exists(meta):
            with open(meta) as f:
                total += json.load(f)["n_records"]
        else:
            memoized = False
            break
    if not memoized:
        total = io.lines().count()
    if outfile:
        if auto_mkdir:
            os.makedirs(os.path.dirname(os.path.abspath(outfile)), exist_ok=True)
        with open(outfile, "w") as f:
            f.write(str(total))
    else:
        print(total)


def op_map(io: PartitionIO, fn: str, outfile: str) -> None:
    f, ser = resolve_fn(fn), io.ser
    _save_lines(io.records().map(lambda r: ser(f(r))), _outpath(outfile, io.stem))


def op_flat_map(io: PartitionIO, fn: str, outfile: str) -> None:
    f, ser = resolve_fn(fn), io.ser
    _save_lines(io.records().flatMap(lambda r: [ser(x) for x in f(r)]), _outpath(outfile, io.stem))


def op_filter(io: PartitionIO, fn: str, outfile: str, delete_on_empty: bool = False) -> None:
    f, deser = resolve_fn(fn), io.deser
    kept = io.lines().filter(lambda line: bool(f(deser(line))))
    _save_lines(
        kept.map(lambda line: line.encode()),
        _outpath(outfile, io.stem),
        delete_on_empty=delete_on_empty,
    )


def op_apply(io: PartitionIO, fn: str) -> None:
    f = resolve_fn(fn)
    io.records().foreach(f)


def op_distinct(io: PartitionIO, key_fn: str, outfile: str) -> None:
    """First-occurrence-wins dedup in glob-file order (the reference's
    per-file set semantics made global and deterministic)."""
    kf, deser = resolve_fn(key_fn), io.deser
    indexed = io.lines().zipWithIndex()
    firsts = (
        indexed.map(lambda li: (kf(deser(li[0])), li))
        .reduceByKey(lambda a, b: a if a[1] <= b[1] else b)
        .map(lambda kv: kv[1])
        .sortBy(lambda li: li[1])
        .map(lambda li: li[0].encode())
    )
    _save_lines(firsts, _outpath(outfile, io.stem))


_NO_INIT = object()


def op_reduce(io: PartitionIO, fn: str, outfile: str, init_val: Any = _NO_INIT) -> None:
    """Global fold with the reference's 1-arg seeding rule (SURVEY.md
    §2 #8): strictly SEQUENTIAL in glob order, like the reference —
    arbitrary non-associative fns are honored exactly. Records stream
    to the driver partition-by-partition (toLocalIterator), never
    materialized. This is the compat slow path by design; the scale
    path for folds is the native Dataset.reduce with algebraic
    aggregates. Empty input writes null."""
    f = resolve_fn(fn)
    has_init = init_val is not _NO_INIT
    accum, seeded = (init_val, True) if has_init else (None, False)
    for rec in io.records().toLocalIterator():
        accum = f(rec, accum) if seeded else f(rec)
        seeded = True
    result = accum if seeded else None
    os.makedirs(os.path.dirname(os.path.abspath(outfile)) or ".", exist_ok=True)
    with _open_by_ext(_outpath(outfile, io.stem), "wb") as out:
        out.write(io.ser(result) + b"\n")
    _write_meta(_outpath(outfile, io.stem), 1)


def op_reduce_by_key(
    io: PartitionIO, key_fn: str, fn: str, outfile: str, init_val: Any = _NO_INIT
) -> None:
    kf, f, ser = resolve_fn(key_fn), resolve_fn(fn), io.ser
    has_init = init_val is not _NO_INIT

    def fold_partition(it):
        accums: dict[Any, Any] = {}
        for rec in it:
            k = kf(rec)
            if k in accums:
                accums[k] = f(rec, accums[k])
            elif has_init:
                accums[k] = f(rec, init_val)
            else:
                accums[k] = f(rec)
        yield from accums.items()

    out = (
        io.records()
        .mapPartitions(fold_partition)
        .reduceByKey(lambda a, b: f(a, b))
        .values()
        .map(lambda r: ser(r))
    )
    _save_lines(out, _outpath(outfile, io.stem))


def op_split_by_key(io: PartitionIO, key_fn: str, outfile: str, num_partitions: int) -> None:
    """Hash-shuffle write: record → bucket key_fn(rec) % N → one output
    file per bucket ({auto} naming), single distributed pass."""
    kf, deser = resolve_fn(key_fn), io.deser
    n = num_partitions
    routed = (
        io.lines()
        .map(lambda line: (kf(deser(line)) % n, line))
        .partitionBy(n, lambda b: b)
        .map(lambda kv: kv[1])
    )
    tmp = tempfile.mkdtemp(prefix="shmr_spark_split_")
    target = os.path.join(tmp, "d")
    routed.saveAsTextFile(target)
    parts = sorted(p for p in os.listdir(target) if p.startswith("part-"))
    for i, part in enumerate(parts):
        out = _outpath(outfile, io.stem, auto=i)
        os.makedirs(os.path.dirname(os.path.abspath(out)) or ".", exist_ok=True)
        cnt = 0
        with _open_by_ext(out, "wb") as o, open(os.path.join(target, part), "rb") as f:
            for line in f:
                o.write(line)
                cnt += 1
        _write_meta(out, cnt)
    shutil.rmtree(tmp)


def op_join(
    io: PartitionIO,
    key_fn: str,
    outfile: str,
    partition: str,
    partition_key_fn: str,
    partition_skip_nrows: int = 0,
    partition_deser_fn: str = "shmr_spark.compat.funcs.json_loads",
    partition_ser_fn: str = "shmr_spark.compat.funcs.json_dumps",
    output_ser_fn: str | None = None,
) -> None:
    """The reference join's INTENDED semantics (SURVEY.md §2 #11 — as
    shipped it crashes): inner equi-join, last-left-wins per key,
    output record = [left, right1, ..., rightn] per key."""
    lkf = resolve_fn(key_fn)
    rkf = resolve_fn(partition_key_fn)
    out_ser = resolve_fn(output_ser_fn) if output_ser_fn else json_dumps
    right_io = PartitionIO(
        io.spark, partition, partition_deser_fn, partition_ser_fn, partition_skip_nrows
    )
    left = (
        io.records()
        .zipWithIndex()
        .map(lambda ri: (lkf(ri[0]), ri))
        .reduceByKey(lambda a, b: a if a[1] >= b[1] else b)  # last wins
        .mapValues(lambda ri: ri[0])
    )
    right = right_io.records().map(lambda r: (rkf(r), r))
    joined = left.cogroup(right).flatMap(
        lambda kv: (
            [[list(kv[1][0])[0]] + list(kv[1][1])]
            if len(list(kv[1][0])) > 0 and len(list(kv[1][1])) > 0
            else []
        )
    )
    _save_lines(joined.map(lambda rec: out_ser(rec)), _outpath(outfile, io.stem))


def op_coalesce(
    io: PartitionIO,
    outfile: str,
    records_per_partition: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Re-chunk into ~equal output partitions. records_per_partition is
    honored exactly (no reference overflow quirk)."""
    lines = io.lines().zipWithIndex()
    total = lines.count()
    if records_per_partition is not None:
        rpp = records_per_partition
        n = max(1, math.ceil(total / rpp))
    elif num_partitions is not None:
        n = num_partitions
        rpp = max(1, math.ceil(total / n))
    else:
        raise ValueError("need records_per_partition or num_partitions")
    tmp = tempfile.mkdtemp(prefix="shmr_spark_coalesce_")
    target = os.path.join(tmp, "d")
    lines.map(lambda li: (min(li[1] // rpp, n - 1), li[0])).partitionBy(
        n, lambda b: b
    ).map(lambda kv: kv[1]).saveAsTextFile(target)
    parts = sorted(p for p in os.listdir(target) if p.startswith("part-"))
    auto = 0
    for part in parts:
        src = os.path.join(target, part)
        cnt = sum(1 for _ in open(src, "rb"))
        if cnt == 0:
            continue  # on_close_delete_if_empty parity
        out = _outpath(outfile, io.stem, auto=auto)
        os.makedirs(os.path.dirname(os.path.abspath(out)) or ".", exist_ok=True)
        with _open_by_ext(out, "wb") as o, open(src, "rb") as f:
            shutil.copyfileobj(f, o)
        _write_meta(out, cnt)
        auto += 1
    shutil.rmtree(tmp)


def op_concat(io: PartitionIO, outfile: str) -> None:
    _save_lines(io.lines().map(lambda s: s.encode()), _outpath(outfile, io.stem))


# -- argparse surface ------------------------------------------------------

_COMMANDS = {
    "partition.head": (op_head, [("n", int, True)]),
    "partition.count": (op_count, [("outfile", str, False), ("auto_mkdir", bool, False)]),
    "partition.map": (op_map, [("fn", str, True), ("outfile", str, True)]),
    "partition.flat_map": (op_flat_map, [("fn", str, True), ("outfile", str, True)]),
    "partition.filter": (
        op_filter,
        [("fn", str, True), ("outfile", str, True), ("delete_on_empty", bool, False)],
    ),
    "partition.apply": (op_apply, [("fn", str, True)]),
    "partition.distinct": (op_distinct, [("key_fn", str, True), ("outfile", str, True)]),
    "partition.reduce": (
        op_reduce,
        [("fn", str, True), ("outfile", str, True), ("init_val", "any", False)],
    ),
    "partition.reduce_by_key": (
        op_reduce_by_key,
        [
            ("key_fn", str, True),
            ("fn", str, True),
            ("outfile", str, True),
            ("init_val", "any", False),
        ],
    ),
    "partition.split_by_key": (
        op_split_by_key,
        [("key_fn", str, True), ("outfile", str, True), ("num_partitions", int, True)],
    ),
    "partition.join": (
        op_join,
        [
            ("key_fn", str, True),
            ("outfile", str, True),
            ("partition", str, True),
            ("partition_key_fn", str, True),
            ("partition_skip_nrows", int, False),
            ("partition_deser_fn", str, False),
            ("partition_ser_fn", str, False),
            ("output_ser_fn", str, False),
        ],
    ),
    # partitions.* share the same implementations: a glob is a dataset
    "partitions.head": (op_head, [("n", int, True)]),
    "partitions.count": (op_count, [("outfile", str, False)]),
    "partitions.coalesce": (
        op_coalesce,
        [
            ("outfile", str, True),
            ("records_per_partition", int, False),
            ("num_partitions", int, False),
        ],
    ),
    "partitions.concat": (op_concat, [("outfile", str, True)]),
    "partitions.reduce": (
        op_reduce,
        [("fn", str, True), ("outfile", str, True), ("init_val", "any", False)],
    ),
}


def _parse_any(v: str) -> Any:
    """Mirror of reference parse_argval (/root/reference/shmr/main.py:21-32):
    digit-string → int, float-string → float, the literal "set()" →
    an empty set (the reference's distinct-accumulator idiom for
    --init_val), else JSON, else the raw string. fastnumbers.isfloat
    defaults reject inf/nan spellings, so we do too.

    Verification limits (real fastnumbers / orjson are not installed
    here): the float branch is differential-tested against
    tests/ref_shims/fastnumbers.py, a shim pinned to the library's
    documented default semantics — equivalence vs the real C
    extension is asserted by documentation, not execution. And stdlib
    json recurses, so input nested deeper than the interpreter limit
    (~900+ levels) falls back to the RAW STRING here where orjson
    (iterative) would parse it — a documented residual divergence,
    never a crash."""
    if v.isdigit():
        return int(v)
    # "_" guard: fastnumbers.isfloat rejects underscores by default
    # (allow_underscores=False since 4.0) where CPython's float()
    # accepts "1_0" — so "1_0" must fall through to the raw string.
    if "_" not in v and v.strip().lower() not in {"inf", "+inf", "-inf", "infinity", "+infinity", "-infinity", "nan", "+nan", "-nan"}:
        try:
            return float(v)
        except ValueError:
            pass
    if v == "set()":
        return set()
    try:
        return _json_loads_orjson_like(v)
    except (ValueError, TypeError, RecursionError):
        # RecursionError: stdlib json is recursive; orjson is not.
        # Beyond ~900 nesting levels we degrade to the raw string
        # (documented divergence) instead of crashing the CLI.
        return v


def _json_loads_orjson_like(v: str) -> Any:
    """stdlib json constrained to the envelope of orjson (the
    reference's parser, as installed in this environment — verified
    by the differential suite), where the two disagree:

    - NaN/Infinity constants: orjson rejects, stdlib accepts → raise;
    - integers outside [-2^63, 2^64-1]: orjson parses them as DOUBLE,
      stdlib keeps arbitrary precision → coerce to float;
    - float literals that overflow to infinity (1e999): orjson
      rejects the document, stdlib returns inf → raise;
    - lone surrogate escapes ("\\ud800" with no low pair): orjson
      rejects, stdlib produces an unencodable str → raise.

    Any raise falls back to the raw string, exactly like the
    reference's parse_argval."""

    def _pi(s: str):
        n = int(s)
        return n if -(2**63) <= n <= 2**64 - 1 else float(s)

    def _pf(s: str):
        f = float(s)
        if math.isinf(f):
            raise ValueError("number is infinity")
        return f

    out = json.loads(
        v, parse_constant=_reject_json_constant, parse_int=_pi, parse_float=_pf
    )
    if _has_lone_surrogate(out):
        raise ValueError("lone surrogate in string")
    return out


def _has_lone_surrogate(x: Any) -> bool:
    if isinstance(x, str):
        return any("\ud800" <= c <= "\udfff" for c in x)
    if isinstance(x, list):
        return any(_has_lone_surrogate(i) for i in x)
    if isinstance(x, dict):
        return any(
            _has_lone_surrogate(k) or _has_lone_surrogate(val)
            for k, val in x.items()
        )
    return False


def _reject_json_constant(_c: str) -> Any:
    raise ValueError("non-standard JSON constant")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="shmr-spark", description="shmr-compatible map-reduce CLI on Spark"
    )
    p.add_argument("-i", "--infile", required=True, help="partition path or glob")
    p.add_argument("--skip_nrows", type=int, default=0)
    p.add_argument("-d", "--deser_fn", default="shmr_spark.compat.funcs.json_loads")
    p.add_argument("-s", "--ser_fn", default="shmr_spark.compat.funcs.json_dumps")
    p.add_argument("-v", "--verbose", action="store_true")
    sub = p.add_subparsers(dest="command", required=True)
    for name, (_, params) in _COMMANDS.items():
        sp = sub.add_parser(name)
        for pname, ptype, required in params:
            if ptype is bool:
                sp.add_argument(f"--{pname}", action="store_true")
            elif ptype == "any":
                sp.add_argument(f"--{pname}", type=_parse_any, default=_NO_INIT)
            else:
                sp.add_argument(f"--{pname}", type=ptype, required=required)
    return p


def main(argv: list[str] | None = None, spark=None) -> None:
    args = build_parser().parse_args(argv)
    fn, params = _COMMANDS[args.command]
    spark = spark or get_spark(app_name="shmr_spark_cli")
    from shmr_spark.pyship import ensure_package_shipped

    ensure_package_shipped(spark)
    io = PartitionIO(spark, args.infile, args.deser_fn, args.ser_fn, args.skip_nrows)
    kwargs = {}
    for pname, _, _ in params:
        v = getattr(args, pname, None)
        if v is None or v is _NO_INIT:
            continue
        kwargs[pname] = v
    fn(io, **kwargs)
