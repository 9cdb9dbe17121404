"""``spark.read.format("shmr")`` — the reference's native partition
files as a first-class Spark data source (Spark 4 Python DataSource
API).

The reference's storage model (SURVEY.md §1): a dataset is a sorted
glob of newline-delimited files, one record per line, codec by
convention (ND-JSON default / CSV / raw text —
/root/reference/shmr/funcs.py:7-25), transparent gzip/bz2 by extension
(/root/reference/shmr/misc.py:6-20), optional header rows
(--skip_nrows, /root/reference/shmr/partition.py:31-33), and a
``<stem>.meta`` sidecar carrying ``{"n_records": N}``
(/root/reference/shmr/partition_writer.py:64-85).

This source maps that model onto Spark's:

- small files share a read task, in sorted order, up to ``PACK_BYTES``
  on disk (4 MiB, Spark's ``spark.sql.files.openCostInBytes`` default;
  a file of 4 MiB or more reads alone): a Python task's fixed worker
  set-up cost dwarfs decoding a small file;
- codec/skip_nrows as read options; gz/bz2 resolved per file;
- the writer emits one ``part-NNNNN.json[.gz]`` per Spark partition
  WITH the ``.meta`` sidecar, so output datasets are valid inputs for
  the reference CLI itself (and for our compat CLI's memoized count).

Options (read): ``path`` (file or glob), ``codec`` = json|csv|text
(default json), ``skip_nrows`` (per file, default 0), ``pushdown`` =
true|false (default false — evaluate claimed filters source-side,
before Arrow serialization; requires
``spark.sql.python.filterPushdown.enabled``, which ``get_spark``
sets).
CSV parsing is LINE-based, matching the reference's one-record-per-
line model (/root/reference/shmr/partition.py:126-132): RFC-4180
quoted fields containing embedded newlines are NOT supported and
raise ValueError (malformed record).
Schema: pass one explicitly for json/csv; defaults are
``value string`` (text) and inference-free all-string columns are NOT
guessed — json without a schema infers from the first file's first
1000 lines (driver-side, one small read).

Usage:
    spark.dataSource.register(ShmrDataSource)
    df = (spark.read.format("shmr").schema("a int, b string")
          .option("codec", "json").load("/data/part-*.json.gz"))
    df.write.format("shmr").option("codec", "json").save("/out")
    # incremental ingest of a growing partition directory:
    sdf = (spark.readStream.format("shmr").schema("a int, b string")
           .load("/data/incoming"))   # NEW files per batch, packed
"""

from __future__ import annotations

import bz2
import glob as globmod
import gzip
import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType, _parse_datatype_string


def _open_by_ext(path: str, mode: str):
    if path.endswith(".gz"):
        return gzip.open(path, mode)
    if path.endswith(".bz2"):
        return bz2.open(path, mode)
    return open(path, mode)


def _expand(path: str) -> list[str]:
    paths = sorted(globmod.glob(path)) if any(c in path for c in "*?[") else [path]
    if not paths:
        raise FileNotFoundError(f"no partition matches: {path}")
    return paths


class _FilePartition(InputPartition):
    def __init__(self, paths: tuple[str, ...]):
        self.paths = paths


# Spark's spark.sql.files.openCostInBytes default. A constant, not a
# conf or option: the planner worker calling partitions() has no
# SparkSession to read one from.
PACK_BYTES = 4 * 1024 * 1024


def _pack(paths: list[str]) -> list[_FilePartition]:
    """Group sorted files into read tasks, opening a new task only when
    the next file would push the current one's on-disk bytes past
    PACK_BYTES. Every task holds at least one file."""
    tasks: list[_FilePartition] = []
    cur: list[str] = []
    size = 0
    for p in paths:
        n = os.path.getsize(p)
        if cur and size + n > PACK_BYTES:
            tasks.append(_FilePartition(tuple(cur)))
            cur, size = [], 0
        cur.append(p)
        size += n
    if cur:
        tasks.append(_FilePartition(tuple(cur)))
    return tasks


def _caster(simple_type: str):
    """Schema-faithful conversion of deserialized values: both JSON
    records (whose wire types may be wider/narrower than the schema)
    and CSV fields (always strings) go through the declared type, so
    the Arrow conversion downstream never sees a mistyped cell.
    ``None`` passes through (nullable)."""
    numeric = simple_type in ("tinyint", "smallint", "int", "bigint", "float", "double")

    def cast(v):
        if v is None:
            return None
        if numeric:
            if v == "":  # empty CSV cell → NULL
                return None
            return (
                int(v)
                if simple_type in ("tinyint", "smallint", "int", "bigint")
                else float(v)
            )
        if simple_type == "boolean":
            return v if isinstance(v, bool) else str(v).lower() == "true"
        if simple_type == "string":
            return v if isinstance(v, str) else json.dumps(v)
        return v  # arrays/structs: pass through

    return cast


def _decode_file(
    path: str, schema: StructType, codec: str, skip_nrows: int
) -> Iterator[tuple]:
    """Per-file decode loop shared by the batch and stream readers —
    the reference's line-at-a-time record model under every codec."""
    import csv as csvmod
    import io as iomod

    names = schema.fieldNames()
    casts = [_caster(f.dataType.simpleString()) for f in schema.fields]
    with _open_by_ext(path, "rb") as f:
        for _ in range(skip_nrows):
            next(f, None)
        if codec == "json":
            for line in f:
                rec = json.loads(line)
                yield tuple(c(rec.get(n)) for n, c in zip(names, casts))
        elif codec == "csv":
            for line in f:
                row = next(csvmod.reader(iomod.StringIO(line.decode())))
                if len(row) != len(names):
                    raise ValueError(
                        f"malformed CSV record in {path}: "
                        f"{len(row)} fields, schema has {len(names)}"
                    )
                yield tuple(c(v) for v, c in zip(row, casts))
        elif codec == "text":
            for line in f:
                yield (line.decode().rstrip("\r\n"),)
        else:
            raise ValueError(f"unknown codec: {codec}")


def _spark_cmp(v, x) -> int:
    """Spark SQL total ordering as a -1/0/1 comparator: NaN compares
    GREATER than every numeric and EQUAL to itself (Python's NaN
    comparisons are all-False — using them verbatim would silently
    change results vs the Spark-side evaluation of the same filter)."""
    import math

    v_nan = isinstance(v, float) and math.isnan(v)
    x_nan = isinstance(x, float) and math.isnan(x)
    if v_nan or x_nan:
        if v_nan and x_nan:
            return 0
        return 1 if v_nan else -1
    return (v > x) - (v < x)


_CMP_OPS = {
    GreaterThan: lambda v, x: _spark_cmp(v, x) > 0,
    GreaterThanOrEqual: lambda v, x: _spark_cmp(v, x) >= 0,
    LessThan: lambda v, x: _spark_cmp(v, x) < 0,
    LessThanOrEqual: lambda v, x: _spark_cmp(v, x) <= 0,
    EqualTo: lambda v, x: _spark_cmp(v, x) == 0,
}

_STR_OPS = {
    StringStartsWith: str.startswith,
    StringEndsWith: str.endswith,
    StringContains: str.__contains__,
}

# NOTE: no "float" — the decode path carries full Python doubles but
# the non-pushdown pipeline truncates float32 columns at the Arrow
# boundary BEFORE Spark evaluates filters, so a source-side comparison
# on the untruncated value could disagree at precision boundaries.
# float-column filters therefore stay Spark-side.
_SIMPLE_TYPES = frozenset(
    ("tinyint", "smallint", "int", "bigint", "double", "string", "boolean")
)


def _compile_filter(f: Filter, schema: StructType):
    """Compile a Catalyst pushed filter into a three-valued evaluator
    ``row_tuple -> True | False | None`` (None = SQL UNKNOWN: a NULL
    operand — the row is dropped, and under NOT stays dropped, exactly
    Spark's semantics). Returns None if the filter is one this source
    does not handle (it then stays Spark-side — correctness never
    depends on the pushdown)."""
    if isinstance(f, Not):
        inner = _compile_filter(f.child, schema)
        if inner is None:
            return None
        return lambda row: (lambda r: None if r is None else not r)(inner(row))

    attr = getattr(f, "attribute", None)
    if not isinstance(attr, tuple) or len(attr) != 1:
        return None  # nested paths stay Spark-side
    names = schema.fieldNames()
    if attr[0] not in names:
        return None
    idx = names.index(attr[0])
    typ = schema.fields[idx].dataType.simpleString()
    if typ not in _SIMPLE_TYPES:
        return None

    if isinstance(f, IsNull):
        return lambda row: row[idx] is None
    if isinstance(f, IsNotNull):
        return lambda row: row[idx] is not None

    def _plain(v):
        return isinstance(v, (int, float, str, bool)) and not (
            typ == "string" and not isinstance(v, str)
        )

    if isinstance(f, In):
        if not all(_plain(v) or v is None for v in f.value):
            return None
        vals = tuple(v for v in f.value if v is not None)
        has_null = any(v is None for v in f.value)
        # SQL IN: TRUE on match; else UNKNOWN if the probe or any list
        # element is NULL, else FALSE
        return lambda row: (
            None
            if row[idx] is None
            else True
            if any(_spark_cmp(row[idx], v) == 0 for v in vals)
            else (None if has_null else False)
        )
    if isinstance(f, EqualNullSafe):
        if not (_plain(f.value) or f.value is None):
            return None
        return lambda row: (
            row[idx] is None and f.value is None
        ) or (
            row[idx] is not None
            and f.value is not None
            and _spark_cmp(row[idx], f.value) == 0
        )
    for klass, fn in _STR_OPS.items():
        if isinstance(f, klass):
            if typ != "string" or not isinstance(f.value, str):
                return None
            return lambda row, fn=fn: (
                None if row[idx] is None else fn(row[idx], f.value)
            )
    for klass, fn in _CMP_OPS.items():
        if isinstance(f, klass):
            if not _plain(f.value):
                return None
            return lambda row, fn=fn: (
                None if row[idx] is None else fn(row[idx], f.value)
            )
    return None


class ShmrReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.codec = options.get("codec", "json")
        self.skip_nrows = int(options.get("skip_nrows", 0))
        self.paths = _expand(options["path"])
        self._pushed = []  # evaluators applied in read()

    def partitions(self) -> Sequence[InputPartition]:
        # small files share a task (see PACK_BYTES)
        return _pack(self.paths)

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        rows = (
            row
            for path in partition.paths
            for row in _decode_file(path, self.schema_, self.codec, self.skip_nrows)
        )
        if not self._pushed:
            yield from rows
            return
        for row in rows:
            if all(ev(row) is True for ev in self._pushed):
                yield row


class ShmrPushdownReader(ShmrReader):
    """ShmrReader + row-level filter pushdown (Spark 4.1 Python
    DataSource API), selected by ``.option("pushdown", "true")``.

    The source decodes every line anyway (line-oriented formats have
    no statistics layer to skip I/O), but evaluating claimed
    predicates HERE drops rows before Arrow serialization and the
    Python→JVM transfer — on a selective scan that is the bulk of the
    data movement. Filters the source can't evaluate exactly (nested
    paths, non-scalar types) are yielded back and stay Spark-side.

    Opt-in rather than default because Spark 4.1 hard-errors ANY read
    through a reader that merely implements pushFilters() while
    ``spark.sql.python.filterPushdown.enabled`` is false — a bare
    session must still be able to read the format. ``get_spark``
    enables the conf, so sessions built by this repo can always opt
    in."""

    def pushFilters(self, filters: list) -> Iterator[Filter]:
        for f in filters:
            ev = _compile_filter(f, self.schema_)
            if ev is None:
                yield f
            else:
                self._pushed.append(ev)


class ShmrStreamReader(DataSourceStreamReader):
    """Incremental ingest of a GROWING reference partition directory —
    ``spark.readStream.format("shmr")`` turns the reference's batch
    file model into a Structured Streaming source: each micro-batch
    picks up the partition files that appeared since the last one,
    packed into read tasks as the batch reader packs them, with
    exactly-once delivery through Spark's offset log.

    Offset design (O(1) state, not O(files)): the reference CLI names
    partition files with a monotonically increasing stem
    (``part-00000…``, /root/reference/shmr/partitions.py template
    expansion), so the SORTED file list is an append-only log and the
    offset is just ``{"hw": <last filename>, "n": <count ≤ hw>}``.
    The count double-checks the contract: a file that materializes
    BELOW the high-water name (out-of-order writer, clock-skewed copy)
    would be silently skipped by a name-only watermark — here it fails
    the query loudly with a clear message instead.

    Files must be moved into the directory atomically (write elsewhere
    + rename, which is exactly what the reference's partition writer
    and this module's ShmrWriter do) — a file observed mid-write would
    be read short.
    """

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.codec = options.get("codec", "json")
        self.skip_nrows = int(options.get("skip_nrows", 0))
        self.path = options["path"]

    def _files(self) -> list[str]:
        pattern = self.path
        if not any(c in pattern for c in "*?["):
            # directory → the reference's default dataset layout
            pattern = os.path.join(pattern, "*")
        # .meta sidecars, _SUCCESS markers and in-progress temp files
        # are not records (Spark's file sources skip "_"/"." names too)
        return sorted(
            p
            for p in globmod.glob(pattern)
            if not p.endswith(".meta")
            and not os.path.basename(p).startswith(("_", "."))
            and os.path.isfile(p)
        )

    def initialOffset(self) -> dict:
        return {"hw": "", "n": 0}

    def latestOffset(self) -> dict:
        files = self._files()
        return {"hw": files[-1] if files else "", "n": len(files)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """The batch file set must be a deterministic function of
        (start, end) — checkpoint replay re-runs this method — which
        the O(1) name-range offsets only guarantee under the
        sorted-arrival contract. Both count checks below run BEFORE
        any file is read, so a violation fails the trigger cleanly
        (nothing half-processed) instead of silently reading a file
        one batch and declaring it skipped the next."""
        files = self._files()
        below_start = [p for p in files if start["hw"] and p <= start["hw"]]
        if len(below_start) != start["n"]:
            raise ValueError(
                "shmr stream: the directory has "
                f"{len(below_start)} file(s) at or below the committed "
                f"high-water name {start['hw']!r} but {start['n']} were "
                "committed — a file arrived out of sorted-name order "
                "(or a committed file was deleted). The source requires "
                "files to arrive in sorted-name order (the reference "
                "CLI's part-NNNNN naming); re-shard or rename late "
                "files, or restart from a fresh checkpoint."
            )
        batch = [
            p
            for p in files
            if (not start["hw"] or p > start["hw"])
            and end["hw"]
            and p <= end["hw"]
        ]
        if len(batch) != end["n"] - start["n"]:
            raise ValueError(
                "shmr stream: the range "
                f"({start['hw']!r}, {end['hw']!r}] now holds "
                f"{len(batch)} file(s) but {end['n'] - start['n']} were "
                "present when the batch was planned — a file "
                "materialized out of sorted-name order inside an "
                "already-planned range. Re-shard or rename the late "
                "file(s), or restart from a fresh checkpoint."
            )
        # atomic-rename arrival fixes file sizes, so a replay packs alike
        return _pack(batch)

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        for path in partition.paths:
            yield from _decode_file(path, self.schema_, self.codec, self.skip_nrows)

    def commit(self, end: dict) -> None:
        pass


class _WroteFile(WriterCommitMessage):
    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


def _json_default(v):
    """JSON encoding for non-JSON-native Spark cell types: timestamps/
    dates → ISO strings, Decimal → float, bytes → base64 — the wire
    forms the reference's orjson-based tooling can round-trip."""
    import base64
    import datetime
    import decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    raise TypeError(f"not JSON serializable: {type(v).__name__}")


def _meta_path(datafile: str) -> str:
    """Sidecar path per the reference's PartitionMetadata
    (/root/reference/shmr/partition_writer.py:64-70): strip only the
    FINAL extension — ``part-N.json.gz`` → ``part-N.json.meta`` — so
    compressed output's count memo is found by the reference CLI and
    by our compat CLI (both use the same single-extension rule)."""
    return os.path.splitext(datafile)[0] + ".meta"


class ShmrWriter(DataSourceWriter):
    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        import glob as g
        import time
        import uuid

        self.schema_ = schema
        self.path = options["path"]
        self.codec = options.get("codec", "json")
        self.compression = options.get("compression", "")  # "", gz, bz2
        # per-job token: append jobs never collide with earlier output,
        # and two concurrent attempts of one task write distinct temp
        # files (the final rename is atomic on a local FS); clock-first,
        # so a later single-file append sorts after an earlier one
        self.token = f"{time.time_ns():016x}{uuid.uuid4().hex[:4]}"
        if overwrite and os.path.isdir(self.path):
            # driver-side (this runs before any task): clear prior data
            for f in g.glob(os.path.join(self.path, "part-*")) + g.glob(
                os.path.join(self.path, "_SUCCESS")
            ):
                os.remove(f)

    def write(self, iterator) -> _WroteFile:
        import csv as csvmod
        import io as iomod
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        names = self.schema_.fieldNames()
        ext = {"json": "json", "csv": "csv", "text": "txt"}[self.codec]
        suffix = f".{self.compression}" if self.compression else ""
        out = os.path.join(self.path, f"part-{pid:05d}-{self.token}.{ext}{suffix}")
        tmp = os.path.join(
            self.path, f".inprogress-{uuid.uuid4().hex[:8]}-{os.path.basename(out)}"
        )
        os.makedirs(self.path, exist_ok=True)
        n = 0
        with _open_by_ext(tmp, "wb") as g:
            for row in iterator:
                if self.codec == "json":
                    line = json.dumps(
                        dict(zip(names, row)),
                        separators=(",", ":"),
                        default=_json_default,
                    ).encode()
                elif self.codec == "csv":
                    buf = iomod.StringIO()
                    csvmod.writer(buf).writerow(list(row))
                    line = buf.getvalue().rstrip("\r\n").encode()
                else:
                    line = str(row[0]).encode()
                g.write(line + b"\n")
                n += 1
        os.replace(tmp, out)  # atomic publish; duplicate attempts converge
        # .meta sidecar — the reference's count memo
        # (/root/reference/shmr/partition_writer.py:64-85)
        with open(_meta_path(out), "w") as m:
            json.dump({"n_records": n}, m)
        return _WroteFile(out, n)

    def commit(self, messages) -> None:
        total = sum(m.n for m in messages)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump({"n_records": total, "n_files": len(messages)}, f)

    def abort(self, messages) -> None:
        import glob as g

        for m in messages:
            if m is None:
                continue
            for p in (m.path, _meta_path(m.path)):
                if os.path.exists(p):
                    os.remove(p)
        # token-scoped: never sweep up live temp files of a concurrent
        # append job (temp names embed this job's token via the final
        # filename: .inprogress-<attempt>-part-NNNNN-<token>.<ext>)
        for tmp in g.glob(os.path.join(self.path, f".inprogress-*-{self.token}.*")):
            os.remove(tmp)


class ShmrDataSource(DataSource):
    """Register with ``spark.dataSource.register(ShmrDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "shmr"

    def schema(self):
        codec = self.options.get("codec", "json")
        if codec == "text":
            return "value string"
        if codec == "json":
            # driver-side inference from a bounded sample of the first
            # file (explicit schemas are the production path)
            first = _expand(self.options["path"])[0]
            keys: dict[str, str] = {}
            with _open_by_ext(first, "rb") as f:
                for _ in range(int(self.options.get("skip_nrows", 0))):
                    next(f, None)
                for i, line in enumerate(f):
                    if i >= 1000:
                        break
                    rec = json.loads(line)
                    if not isinstance(rec, dict):
                        raise ValueError(
                            "schema inference needs object records; pass an "
                            "explicit schema for scalar/array ND-JSON"
                        )
                    for k, v in rec.items():
                        if v is None:
                            # nulls carry no type; record the column so
                            # an all-null sample still lands in the
                            # schema (as nullable string)
                            keys.setdefault(k, "")
                            continue
                        if isinstance(v, (list, dict)):
                            raise ValueError(
                                f"field {k!r} holds nested JSON; pass an "
                                "explicit schema (array/struct inference "
                                "is not supported)"
                            )
                        t = (
                            "boolean"
                            if isinstance(v, bool)
                            else "bigint"
                            if isinstance(v, int)
                            else "double"
                            if isinstance(v, float)
                            else "string"
                        )
                        prev = keys.get(k, "")
                        if prev in ("", t):
                            keys[k] = t
                        else:
                            # widen int→double, anything else → string
                            keys[k] = (
                                "double"
                                if {prev, t} == {"bigint", "double"}
                                else "string"
                            )
            if not keys:
                raise ValueError("cannot infer schema from an empty partition")
            keys = {k: (t or "string") for k, t in keys.items()}
            return ", ".join(f"{k} {t}" for k, t in keys.items())
        raise ValueError(f"codec {codec} requires an explicit schema")

    def reader(self, schema) -> ShmrReader:
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        cls = (
            ShmrPushdownReader
            if str(self.options.get("pushdown", "false")).lower() == "true"
            else ShmrReader
        )
        return cls(schema, dict(self.options))

    def writer(self, schema, overwrite: bool) -> ShmrWriter:
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        return ShmrWriter(schema, dict(self.options), overwrite)

    def streamReader(self, schema) -> ShmrStreamReader:
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        return ShmrStreamReader(schema, dict(self.options))
