"""Spark-free tests of the shmr reader's decode (sources/shmr_datasource.py):
``ShmrReader.read`` yields Arrow batches, from pyarrow's JSON decoder
where a chunk passes the guard and from the row decoder otherwise. The
oracle is the one-record-per-line decoder the reader had before it
yielded batches (``_row_oracle`` below), its tuples converted by
pyspark's own ``records_to_arrow_batches``, as a Spark task converts
them: rows and raised error types must be equal."""

from __future__ import annotations

import bz2
import gzip
import json
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

from shmr_spark.sources import shmr_datasource as sd

FLAT = StructType(
    [
        StructField("a", LongType()),
        StructField("b", IntegerType()),
        StructField("c", DoubleType()),
        StructField("d", FloatType()),
        StructField("e", StringType()),
        StructField("f", BooleanType()),
        StructField("g", ShortType()),
        StructField("h", ByteType()),
    ]
)
# an array field: every chunk takes the row decoder
MIXED = StructType(
    [
        StructField("b", IntegerType()),
        StructField("d", FloatType()),
        StructField("l", ArrayType(LongType())),
    ]
)


def _row_oracle(path: str, schema: StructType, skip_nrows: int):
    """The reader's json decode before it yielded batches: one record
    per line of the whole file."""
    names = schema.fieldNames()
    casts = [sd._caster(f.dataType.simpleString()) for f in schema.fields]
    with sd._open_by_ext(path, "rb") as f:
        for _ in range(skip_nrows):
            next(f, None)
        for line in f:
            rec = json.loads(line)
            yield tuple(c(rec.get(n)) for n, c in zip(names, casts))


def _norm(rows: list[dict]) -> list:
    """Rows comparable with ==: floats by repr, so NaN equals NaN and
    -0.0 differs from 0.0."""
    def v(x):
        return ("float", repr(x)) if isinstance(x, float) else x

    return [{k: v(x) for k, x in r.items()} for r in rows]


def _outcome(batches):
    try:
        return "rows", _norm([r for b in batches for r in b.to_pylist()])
    except Exception as exc:  # noqa: BLE001 - the error type is the outcome
        return "raises", type(exc)


def _reader(schema, paths, skip_nrows=0):
    r = sd.ShmrReader(schema, {"path": paths[0], "skip_nrows": str(skip_nrows)})
    return r.read(sd._FilePartition(tuple(paths)))


def _oracle(schema, path, skip_nrows=0):
    rows = _row_oracle(path, schema, skip_nrows)
    return records_to_arrow_batches(rows, 10_000, schema, sd.ShmrDataSource)


def _write(path: str, data: bytes) -> str:
    opener = gzip.open if path.endswith(".gz") else bz2.open if path.endswith(".bz2") else open
    with opener(path, "wb") as f:
        f.write(data)
    return path


def _assert_same(schema, path, skip_nrows=0):
    got = _outcome(_reader(schema, [path], skip_nrows))
    want = _outcome(_oracle(schema, path, skip_nrows))
    assert got == want
    return got


# ---- generated records ---------------------------------------------------

INT64 = st.integers(-(2**63), 2**63 - 1)
TYPED = {
    "a": st.one_of(st.integers(-1000, 1000), INT64),
    "b": st.integers(-(2**31), 2**31 - 1),
    "c": st.one_of(st.floats(), st.integers(-(2**70), 2**70)),
    "d": st.one_of(st.floats(width=32), st.floats()),
    "e": st.text(),
    "f": st.booleans(),
    "g": st.integers(-(2**15), 2**15 - 1),
    "h": st.integers(-128, 127),
    "l": st.lists(st.integers(-1000, 1000), max_size=3),
}
# values of the wrong JSON type for a column: the row decoder's casts
WILD = st.one_of(
    st.integers(-(2**70), 2**70),
    st.floats(),
    st.sampled_from([1.0, -2.0, 2.5, 1e20]),
    st.sampled_from(["true", "TRUE", "false", "yes", "1", "12", "1.5", ""]),
    st.lists(st.integers(), max_size=3),
    st.dictionaries(st.text(max_size=3), st.integers(), max_size=2),
    st.booleans(),
    st.text(max_size=5),
)
# lines the row decoder rejects (or, for a record that is JSON null,
# fails on); ``Inf``/``-NaN`` pyarrow alone would take
BAD_LINES = [
    "null",
    "",
    "   ",
    '{"a": 1}{"a": 2}',
    '{"a": 1} {"a": 2}',
    '{"a": 1} null',
    "[1]",
    "5",
    '{"c": Inf}',
    '{"c": -NaN}',
    '{"z": -Inf}',
    '{"a": 1,',
]


@st.composite
def _line(draw, schema: StructType, wild: bool, dups: bool) -> str:
    pairs = []
    for name in schema.fieldNames():
        kind = draw(st.sampled_from(["typed", "typed", "typed", "null", "missing", "wild"]))
        if kind == "missing":
            continue
        if kind == "wild" and wild:
            pairs.append((name, draw(WILD)))
        elif kind == "null":
            pairs.append((name, None))
        else:
            pairs.append((name, draw(TYPED[name])))
    extra = draw(st.dictionaries(st.sampled_from(["z", "é", "a.b"]), WILD | st.none(), max_size=2))
    pairs += list(extra.items())
    if dups and pairs and draw(st.booleans()):  # the last value wins
        name = draw(st.sampled_from([k for k, _ in pairs]))
        pairs.append((name, draw(TYPED.get(name, WILD) | st.none())))
    pairs = draw(st.permutations(pairs))
    ascii_only = draw(st.booleans())
    sep = draw(st.sampled_from([(", ", ": "), (",", ":")]))
    body = sep[0].join(
        f"{json.dumps(k, ensure_ascii=ascii_only)}{sep[1]}{json.dumps(v, ensure_ascii=ascii_only)}"
        for k, v in pairs
    )
    return "{" + body + "}"


@st.composite
def _file(draw, schema: StructType):
    # wrong-typed values and duplicate keys send a chunk to the row
    # decoder, so files without them exercise pyarrow's decode
    wild, dups = draw(st.booleans()), draw(st.booleans())
    lines = draw(st.lists(_line(schema, wild, dups), min_size=1, max_size=25))
    bad = draw(st.none() | st.sampled_from(BAD_LINES))
    if bad is not None:
        lines.insert(draw(st.integers(0, len(lines))), bad)
    skip = draw(st.integers(0, 2))
    header = [draw(st.sampled_from(["a,b,c", "null", "", "# header"])) for _ in range(skip)]
    eol = draw(st.sampled_from(["\n", "\r\n"]))
    text = eol.join(header + lines) + (eol if draw(st.booleans()) else "")
    ext = draw(st.sampled_from([".json", ".json.gz", ".json.bz2"]))
    return text.encode("utf-8", "surrogatepass"), skip, ext


@pytest.mark.parametrize("schema", [FLAT, MIXED], ids=["flat", "mixed"])
@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data())
def test_batches_match_row_decoder(schema, data):
    raw, skip, ext = data.draw(_file(schema))
    with tempfile.TemporaryDirectory() as d:
        _assert_same(schema, _write(os.path.join(d, "part-00000" + ext), raw), skip)


# ---- the guard, case by case ---------------------------------------------


def _arrow_taken(monkeypatch) -> list:
    """Records each chunk the row decoder is asked to decode."""
    seen = []
    decode = sd._decode_lines

    def spy(chunk, *a):
        seen.append(chunk)
        return decode(chunk, *a)

    monkeypatch.setattr(sd, "_decode_lines", spy)
    return seen


def test_clean_chunk_takes_pyarrow(tmp_path, monkeypatch):
    seen = _arrow_taken(monkeypatch)
    recs = [{"a": i, "c": i / 3, "e": f"r{i}", "f": i % 2 == 0, "h": i % 100} for i in range(50)]
    path = _write(str(tmp_path / "p.json"), "".join(json.dumps(r) + "\r\n" for r in recs).encode())
    kind, rows = _assert_same(FLAT, path)
    assert kind == "rows" and len(rows) == 50
    assert seen == []


@pytest.mark.parametrize(
    "text",
    [
        'null\n{"a": 1}\n',  # pyarrow 16.1.0 segfaults on a leading null
        'null {"a": 1}\n',
        '{"a": 1}\nnull\n',  # ... and reads a later one as an all-null row
        '{"a": 1}\n\n{"a": 2}\n',
        '{"a": 1}\n   \n',
        '{"a": 1}{"a": 2}\n',
        '{"a": 1, "z":\n{"q": 1}} {"a": 2}\n',  # records across lines
        '{"a": 1, "z": {"q": 1}\n, "b": 2} {"a": 3}\n',
        '{"c": Inf}\n',
        '{"c": -NaN}\n',
        '{"a": 1, "z": ' + "[" * 3000 + "]" * 3000 + "}\n",
        '{"a": 1, "z": ' + "9" * 5000 + "}\n",
    ],
    ids=[
        "leading-null", "leading-null-line", "mid-null", "blank", "whitespace", "two-objects",
        "across-lines-end", "across-lines-start", "Inf", "-NaN", "deep-nesting", "5000-digit-int",
    ],
)
def test_guarded_chunks_raise_as_row_decoder(tmp_path, monkeypatch, text):
    seen = _arrow_taken(monkeypatch)
    kind, _ = _assert_same(FLAT, _write(str(tmp_path / "p.json"), text.encode()))
    assert kind == "raises" and seen


@pytest.mark.parametrize(
    "record, want",
    [
        ({"c": float("nan"), "d": float("-inf")}, {"c": "nan", "d": "-inf"}),
        ({"e": {"k": [1, None]}}, {"e": '{"k": [1, null]}'}),
        ({"f": "true"}, {"f": True}),
        ({"b": 1.0}, {"b": 1}),
    ],
)
def test_row_decoder_semantics_kept(tmp_path, record, want):
    path = _write(str(tmp_path / "p.json"), (json.dumps(record) + "\n").encode())
    kind, rows = _assert_same(FLAT, path)
    got = {k: (x[1] if isinstance(x, tuple) else x) for k, x in rows[0].items() if k in want}
    assert kind == "rows" and got == want


def test_duplicate_key_last_value_wins(tmp_path):
    path = _write(str(tmp_path / "p.json"), b'{"a": 1, "a": 2}\n')
    assert _assert_same(FLAT, path)[1][0]["a"] == 2


def test_text_and_csv_codecs_keep_line_semantics(tmp_path):
    text = b"x,1\r\n\n\"q,\",2\nlast"
    path = _write(str(tmp_path / "p.txt"), text)
    r = sd.ShmrReader(StructType([StructField("value", StringType())]), {"path": path, "codec": "text"})
    rows = [x for b in r.read(sd._FilePartition((path,))) for x in b.to_pylist()]
    assert [x["value"] for x in rows] == ["x,1", "", '"q,",2', "last"]
    csv_schema = StructType([StructField("k", StringType()), StructField("n", IntegerType())])
    path = _write(str(tmp_path / "p.csv"), b'x,1\r\n"q,",\n')
    r = sd.ShmrReader(csv_schema, {"path": path, "codec": "csv"})
    rows = [x for b in r.read(sd._FilePartition((path,))) for x in b.to_pylist()]
    assert rows == [{"k": "x", "n": 1}, {"k": "q,", "n": None}]


# ---- bounded chunks --------------------------------------------------------


@pytest.mark.parametrize("ext", [".json", ".json.gz"])
def test_file_longer_than_a_chunk_reads_in_bounded_batches(tmp_path, monkeypatch, ext):
    monkeypatch.setattr(sd, "PACK_BYTES", 256)
    seen = _arrow_taken(monkeypatch)
    lines = [json.dumps({"a": i, "e": "x" * (i % 7), "c": i * 0.5}).encode() + b"\n" for i in range(60)]
    lines[7] = b'{"a": 7, "e": ["x"]}\n'  # one chunk takes the row decoder
    path = _write(str(tmp_path / ("p" + ext)), b"".join(lines))
    batches = list(_reader(FLAT, [path], skip_nrows=1))
    assert _outcome(batches) == _outcome(_oracle(FLAT, path, skip_nrows=1))
    assert len(seen) == 1 and len(batches) > 2
    sizes = iter(len(x) for x in lines[1:])
    for b in batches:
        assert sum(next(sizes) for _ in range(b.num_rows)) <= 256


def test_line_longer_than_a_chunk_is_its_own_chunk(tmp_path, monkeypatch):
    monkeypatch.setattr(sd, "PACK_BYTES", 64)
    long = json.dumps({"a": 1, "e": "y" * 200}).encode() + b"\n"
    path = _write(str(tmp_path / "p.json"), b'{"a": 0}\n' + long + b'{"a": 2}')
    assert [len(c) for c in sd._line_chunks(path, 0)] == [9, len(long), 8]
    assert _assert_same(FLAT, path)[0] == "rows"
