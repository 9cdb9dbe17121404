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

Options (read): ``path`` (file, directory or glob), ``codec`` =
json|csv|text (default json), ``skip_nrows`` (per file, default 0).
The writer adds ``compression`` = gz|bz2 (default none). An unknown
codec or compression fails at plan time.
Listing: a glob reads its matches and a directory its entries, sorted,
minus ``.meta`` sidecars, names starting with ``_`` or ``.``
(``_SUCCESS``, in-progress temp files) and non-files; a file named
outright is read as given. Filters are left to Spark, which gets every
row.
CSV parsing is LINE-based, matching the reference's one-record-per-
line model (/root/reference/shmr/partition.py:126-132): RFC-4180
quoted fields containing embedded newlines are NOT supported and
raise ValueError (malformed record).
Decoding: a task reads each file in chunks of whole lines, at most
``PACK_BYTES`` of decompressed data each (a single longer line is a
chunk of its own), and yields one ``pyarrow.RecordBatch`` per chunk:

- pyarrow decodes a chunk (``pyarrow.json.read_json`` with an explicit
  schema, integers read as int64 and floats as float64, then cast to
  the schema's types) only when the codec is json, every field is
  tinyint, smallint, int, bigint, float, double, string or boolean, and
  the chunk passes a guard: every line starts with ``{`` and ends with
  ``}`` (so no record spans lines, and pyarrow's row count must equal
  the line count), the chunk holds no ``Inf`` or ``-NaN`` token
  (pyarrow takes them, Python's json does not), and no line can reach
  Python json's nesting or integer-digit limits;
- every other chunk, and any chunk where pyarrow raises or counts rows
  other than lines, goes through the row decoder (``json.loads`` and one
  ``_caster`` per field), and its rows become a batch as Spark converts
  yielded tuples. So rows and errors are the row decoder's: NaN and
  ±inf are accepted, a nested value in a string column becomes JSON
  text, ``"true"`` parses as a boolean, ``1.0`` in an int column
  becomes 1, a duplicate key's last value wins, a blank line raises;
- the line-start test also keeps ``null`` records from pyarrow: pyarrow
  16.1.0's ``read_json`` with an explicit schema segfaults on input
  whose first record is ``null`` (killing the Python worker), and reads
  a later ``null`` line as an all-null row where the row decoder
  raises.

The sink stays row-based: pyarrow has no JSON writer.
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
import sys
from collections.abc import Iterator, Sequence

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType, _parse_datatype_string


def _open_by_ext(path: str, mode: str):
    if path.endswith(".gz"):
        return gzip.open(path, mode)
    if path.endswith(".bz2"):
        return bz2.open(path, mode)
    return open(path, mode)


def _list_files(path: str, allow_empty: bool = False) -> list[str]:
    """The partition files ``path`` names, in read order: a glob's
    matches or a directory's entries, sorted, without ``.meta``
    sidecars, ``_``/``.``-prefixed names (``_SUCCESS`` markers,
    in-progress temp files; Spark's file sources skip these too) and
    non-files. A file named outright is kept as given."""
    if any(c in path for c in "*?["):
        found = globmod.glob(path)
    elif os.path.isdir(path):
        found = [os.path.join(path, n) for n in os.listdir(path)]
    elif os.path.isfile(path):
        return [path]
    else:
        found = []
    paths = sorted(
        p
        for p in found
        if not p.endswith(".meta")
        and not os.path.basename(p).startswith(("_", "."))
        and os.path.isfile(p)
    )
    if not paths and not allow_empty:
        raise FileNotFoundError(f"no partition files at: {path}")
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


def _line_chunks(path: str, skip_nrows: int) -> Iterator[bytes]:
    """The file's lines after the first ``skip_nrows``, decompressed,
    in chunks of whole lines of at most PACK_BYTES (a single longer
    line is a chunk of its own), so a task's memory does not grow with
    file size. Lines split on ``\\n`` alone, as iterating the file
    does."""
    with _open_by_ext(path, "rb") as f:
        for _ in range(skip_nrows):
            next(f, None)
        buf = b""
        while True:
            want = PACK_BYTES - len(buf)
            data = f.read(want)
            buf += data
            if len(data) < want:  # end of file
                break
            cut = buf.rfind(b"\n") + 1
            if not cut:
                buf += f.readline()
                cut = len(buf)
            yield buf[:cut]
            buf = buf[cut:]
        if buf:
            yield buf


def _decode_lines(
    chunk: bytes, schema: StructType, codec: str, path: str
) -> Iterator[tuple]:
    """The row decoder: one chunk's lines, one record per line, under
    every codec."""
    import csv as csvmod
    import io as iomod

    names = schema.fieldNames()
    casts = [_caster(f.dataType.simpleString()) for f in schema.fields]
    lines = iomod.BytesIO(chunk)
    if codec == "json":
        for line in lines:
            rec = json.loads(line)
            yield tuple(c(rec.get(n)) for n, c in zip(names, casts))
    elif codec == "csv":
        for line in lines:
            row = next(csvmod.reader(iomod.StringIO(line.decode())))
            if len(row) != len(names):
                raise ValueError(
                    f"malformed CSV record in {path}: "
                    f"{len(row)} fields, schema has {len(names)}"
                )
            yield tuple(c(v) for v, c in zip(row, casts))
    elif codec == "text":
        for line in lines:
            yield (line.decode().rstrip("\r\n"),)
    else:
        raise ValueError(f"unknown codec: {codec}")


# The flat types ``_caster`` handles that pyarrow's JSON reader decodes
# alike, each read at the width the row path widens to before Spark's
# type narrows it.
_WIDE_READ = {
    "tinyint": pa.int64(),
    "smallint": pa.int64(),
    "int": pa.int64(),
    "bigint": pa.int64(),
    "float": pa.float64(),
    "double": pa.float64(),
    "string": pa.string(),
    "boolean": pa.bool_(),
}


# Python's json raises past about 1000 levels of nesting
# (RecursionError) and on an integer of more digits than
# sys.get_int_max_str_digits() (ValueError); pyarrow does neither.
_MAX_NEST = 500
_DIGIT_MAP = bytes(0x31 if 0x30 <= b <= 0x39 else 0x30 for b in range(256))


def _within_json_limits(chunk: bytes, n_lines: int) -> bool:
    """False if a line of ``chunk`` may reach a limit of Python's json
    that pyarrow lacks (over-counted: brackets and digits inside
    strings count too)."""
    digits = sys.get_int_max_str_digits()
    if digits and b"1" * (digits + 1) in chunk.translate(_DIGIT_MAP):
        return False
    if chunk.count(b"[") + chunk.count(b"{") - n_lines < _MAX_NEST:
        return True
    return all(
        line.count(b"[") + line.count(b"{") < _MAX_NEST for line in chunk.split(b"\n")
    )


def _arrow_json(chunk: bytes, read_schema, target) -> pa.Table | None:
    """``chunk`` decoded by pyarrow and cast to ``target``, or None
    where its rows could differ from the row decoder's (the guard is
    described in the module docstring)."""
    import pyarrow.json as pajson

    n_nl = chunk.count(b"\n")
    ends_nl = chunk.endswith(b"\n")
    n_lines = n_nl + (not ends_nl)
    if not (
        # every line is one `{`...`}` object, so no record spans lines
        chunk.startswith(b"{")
        and chunk.count(b"\n{") == n_nl - ends_nl
        and chunk.count(b"}\n") + chunk.count(b"}\r\n") == n_nl
        and (ends_nl or chunk.endswith((b"}", b"}\r")))
        # pyarrow also takes Inf and -NaN; json only Infinity and NaN
        and chunk.count(b"Inf") == chunk.count(b"Infinity")
        and b"-NaN" not in chunk
        and _within_json_limits(chunk, n_lines)
    ):
        return None
    try:
        table = pajson.read_json(
            pa.py_buffer(chunk),
            read_options=pajson.ReadOptions(use_threads=False, block_size=len(chunk)),
            parse_options=pajson.ParseOptions(
                explicit_schema=read_schema, unexpected_field_behavior="ignore"
            ),
        )
        if table.num_rows != n_lines:
            return None
        return table.cast(target)
    except ValueError:  # ArrowInvalid, a bad UTF-8 message, a failed cast
        return None


class _PartitionFiles:
    """What the batch and stream readers share: the read options and
    the decode loop over one task's files."""

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.codec = options.get("codec", "json")
        self.skip_nrows = int(options.get("skip_nrows", 0))
        self.path = options["path"]

    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        """One ``RecordBatch`` per chunk: pyarrow's decode where the
        chunk qualifies, else the row decoder's rows converted as Spark
        converts yielded tuples. Every element is a batch: pyspark looks
        only at a task's first element to tell tuples from batches."""
        from pyspark.sql.conversion import LocalDataToArrowConversion
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema_)
        types = [f.dataType.simpleString() for f in self.schema_.fields]
        read_schema = None
        if self.codec == "json" and all(t in _WIDE_READ for t in types):
            read_schema = pa.schema(
                [(f.name, _WIDE_READ[t]) for f, t in zip(self.schema_.fields, types)]
            )
        # what pyspark's records_to_arrow_batches applies to yielded tuples
        converts = [
            LocalDataToArrowConversion._create_converter(f.dataType)
            for f in self.schema_.fields
        ]
        for path in partition.paths:
            for chunk in _line_chunks(path, self.skip_nrows):
                table = None
                if read_schema is not None:
                    table = _arrow_json(chunk, read_schema, target)
                if table is not None:
                    yield from table.to_batches()
                else:
                    rows = list(_decode_lines(chunk, self.schema_, self.codec, path))
                    yield pa.RecordBatch.from_arrays(
                        [[c(r[i]) for r in rows] for i, c in enumerate(converts)],
                        schema=target,
                    )


class ShmrReader(_PartitionFiles, DataSourceReader):
    def partitions(self) -> Sequence[InputPartition]:
        # small files share a task (see PACK_BYTES)
        return _pack(_list_files(self.path))


class ShmrStreamReader(_PartitionFiles, DataSourceStreamReader):
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

    def _files(self) -> list[str]:
        # an empty or not-yet-filled directory is an empty stream
        return _list_files(self.path, allow_empty=True)

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


def _write_meta(datafile: str, n: int) -> None:
    """The ``.meta`` sidecar: the reference's count memo,
    ``{"n_records": N}``."""
    with open(_meta_path(datafile), "w") as m:
        json.dump({"n_records": n}, m)


class ShmrWriter(DataSourceWriter):
    def __init__(self, schema: StructType, options: dict, overwrite: bool):
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
            for f in globmod.glob(os.path.join(self.path, "part-*")) + globmod.glob(
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
        _write_meta(out, n)
        return _WroteFile(out, n)

    def commit(self, messages) -> None:
        total = sum(m.n for m in messages)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump({"n_records": total, "n_files": len(messages)}, f)

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for p in (m.path, _meta_path(m.path)):
                if os.path.exists(p):
                    os.remove(p)
        # token-scoped: never sweep up live temp files of a concurrent
        # append job (temp names embed this job's token via the final
        # filename: .inprogress-<attempt>-part-NNNNN-<token>.<ext>)
        pattern = f".inprogress-*-{self.token}.*"
        for tmp in globmod.glob(os.path.join(self.path, pattern)):
            os.remove(tmp)


class ShmrDataSource(DataSource):
    """Register with ``spark.dataSource.register(ShmrDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "shmr"

    def schema(self):
        codec = self._checked_options().get("codec", "json")
        if codec == "text":
            return "value string"
        if codec == "json":
            # driver-side inference from a bounded sample of the first
            # file (explicit schemas are the production path)
            first = _list_files(self.options["path"])[0]
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

    def _checked_options(self) -> dict:
        """The options, with codec and compression checked here, at plan
        time: a bad codec would otherwise fail only inside a task, and
        a bad compression would write uncompressed files under its
        name."""
        options = dict(self.options)
        for key, default, allowed in (
            ("codec", "json", ("json", "csv", "text")),
            ("compression", "", ("", "gz", "bz2")),
        ):
            if options.get(key, default) not in allowed:
                raise ValueError(
                    f"unknown {key} {options[key]!r}: use one of "
                    + ", ".join(repr(a) for a in allowed)
                )
        return options

    def reader(self, schema) -> ShmrReader:
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        return ShmrReader(schema, self._checked_options())

    def writer(self, schema, overwrite: bool) -> ShmrWriter:
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        return ShmrWriter(schema, self._checked_options(), overwrite)

    def streamReader(self, schema) -> ShmrStreamReader:
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        return ShmrStreamReader(schema, self._checked_options())
