"""Tests for the ``shmr`` Python DataSource (sources/shmr_datasource.py):
read/write round trips, codec + compression handling, packing of small
files into shared read tasks, .meta sidecars, and — the real interop
claim — that its outputs are valid inputs for the REFERENCE CLI
itself."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from shmr_spark.sources.shmr_datasource import (
    PACK_BYTES,
    ShmrDataSource,
    ShmrReader,
)

REF_RES = "/root/reference/tests/resources"
PEOPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "people")


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(ShmrDataSource)
    return spark


def test_json_roundtrip_with_meta(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "ds")
    df = spark.range(100).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE)/3 AS v")
    df.repartition(4).write.format("shmr").mode("append").save(out)

    files = sorted(os.listdir(out))
    parts = [f for f in files if f.endswith(".json")]
    metas = [f for f in files if f.endswith(".meta")]
    assert len(parts) == 4 and len(metas) == 4
    # sidecars carry real counts summing to the dataset size
    total = sum(
        json.load(open(os.path.join(out, m)))["n_records"] for m in metas
    )
    assert total == 100
    assert json.load(open(os.path.join(out, "_SUCCESS")))["n_records"] == 100

    back = (
        spark.read.format("shmr")
        .schema("id bigint, k bigint, v double")
        .load(f"{out}/part-*.json")
    )
    assert back.count() == 100
    assert back.agg(F.sum("id")).collect()[0][0] == 4950


def _write_lines(path, recs) -> None:
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


def test_small_files_share_one_task_in_sorted_order(registered, tmp_path):
    spark = registered
    for i in (2, 0, 1):  # created out of order; the glob sorts them
        _write_lines(tmp_path / f"part-{i:05d}.json", [{"x": i * 10 + j} for j in range(5)])
    glob = str(tmp_path / "part-*.json")
    tasks = ShmrReader(None, {"path": glob}).partitions()
    assert [t.paths for t in tasks] == [
        tuple(str(tmp_path / f"part-{i:05d}.json") for i in range(3))
    ]
    back = spark.read.format("shmr").schema("x bigint").load(glob)
    assert back.rdd.getNumPartitions() == 1
    # one task decodes its files in sorted order
    assert [r.x for r in back.collect()] == [i * 10 + j for i in range(3) for j in range(5)]


def test_file_of_pack_bytes_gets_its_own_task(registered, tmp_path):
    spark = registered
    _write_lines(tmp_path / "part-00000.json", [{"x": 0}])
    # exactly PACK_BYTES: 65536 fixed-width lines of 64 bytes
    with open(tmp_path / "part-00001.json", "w") as f:
        for i in range(PACK_BYTES // 64):
            f.write(json.dumps({"x": i, "pad": ""}).ljust(63) + "\n")
    assert os.path.getsize(tmp_path / "part-00001.json") == PACK_BYTES
    _write_lines(tmp_path / "part-00002.json", [{"x": 2}])
    _write_lines(tmp_path / "part-00003.json", [{"x": 3}])
    glob = str(tmp_path / "part-*.json")
    tasks = ShmrReader(None, {"path": glob}).partitions()
    assert [[os.path.basename(p) for p in t.paths] for t in tasks] == [
        ["part-00000.json"],
        ["part-00001.json"],
        ["part-00002.json", "part-00003.json"],
    ]
    back = spark.read.format("shmr").schema("x bigint").load(glob)
    assert back.rdd.getNumPartitions() == 3
    assert back.count() == 3 + PACK_BYTES // 64


def test_reads_own_output_by_directory_and_glob(registered, tmp_path):
    """The writer's output directory reads back as exactly the written
    rows and schema through the directory and through ``dir/*``, with
    and without a schema: its ``.meta`` sidecars and ``_SUCCESS`` marker
    are neither rows nor inference input."""
    spark = registered
    out = str(tmp_path / "ds")
    written = spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) / 4 AS v")
    written.repartition(2).write.format("shmr").mode("append").save(out)
    want = sorted(map(tuple, written.collect()))
    for path in (out, out + "/*"):
        for schema in ("id bigint, v double", None):
            r = spark.read.format("shmr")
            back = (r.schema(schema) if schema else r).load(path)
            assert back.dtypes == written.dtypes, (path, schema)
            assert sorted(map(tuple, back.collect())) == want, (path, schema)


@pytest.mark.parametrize(
    "method, key, value",
    [
        ("writer", "compression", "gzip"),
        ("writer", "codec", "parquet"),
        ("reader", "codec", "parquet"),
        ("streamReader", "codec", "parquet"),
    ],
)
def test_unknown_codec_or_compression_fails_at_plan_time(
    registered, tmp_path, method, key, value
):
    """An unknown codec or compression is refused when the plan is
    made, naming the allowed values, before any file is written or
    read."""
    allowed = {"codec": "'json', 'csv', 'text'", "compression": "'', 'gz', 'bz2'"}[key]
    match = f"unknown {key} '{value}': use one of {allowed}"
    out = str(tmp_path / "out")
    source = ShmrDataSource({"path": out, key: value})
    args = ("x bigint", False) if method == "writer" else ("x bigint",)
    with pytest.raises(ValueError, match=match):
        getattr(source, method)(*args)
    if method == "writer":
        df = registered.range(3).selectExpr("id AS x")
        with pytest.raises(Exception, match=match):
            df.write.format("shmr").option(key, value).mode("append").save(out)
        assert not os.path.exists(out)


def test_json_schema_inference(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "ds")
    spark.range(10).selectExpr(
        "id", "CAST(id AS DOUBLE) AS x", "id % 2 = 0 AS flag", "repeat('a', 3) AS s"
    ).coalesce(1).write.format("shmr").mode("append").save(out)
    inf = spark.read.format("shmr").load(f"{out}/part-*.json")
    assert dict(inf.dtypes) == {
        "id": "bigint",
        "x": "double",
        "flag": "boolean",
        "s": "string",
    }


def _people(spark, path):
    return (
        spark.read.format("shmr")
        .schema("full_name string, first string, last string, age string")
        .option("codec", "csv")
        .option("skip_nrows", "1")
        .load(path)
    )


def test_csv_skip_nrows_reference_fixture(registered):
    """Read the people fixture shaped like the reference's own: header
    skipping and the age golden (FIXTURES.md §A)."""
    csv = _people(registered, f"{PEOPLE}/people.00.csv")
    assert csv.count() == 100
    assert csv.select(F.sum(F.col("age").cast("int"))).collect()[0][0] == 4903


def test_csv_skip_nrows_per_file_in_packed_task(registered):
    """All three partitions share one read task; each file's header
    row is still skipped."""
    csv = _people(registered, f"{PEOPLE}/people.*.csv")
    assert csv.rdd.getNumPartitions() == 1
    assert csv.count() == 300
    assert csv.select(F.sum(F.col("age").cast("int"))).collect()[0][0] == 14911


def test_gzip_roundtrip(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "gz")
    spark.range(50).selectExpr("id").coalesce(2).write.format("shmr").option(
        "compression", "gz"
    ).mode("append").save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert len(parts) == 2
    back = (
        spark.read.format("shmr").schema("id bigint").load(f"{out}/part-*.json.gz")
    )
    assert back.agg(F.sum("id")).collect()[0][0] == 49 * 50 // 2


def test_text_codec(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "txt")
    spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "value string"
    ).coalesce(1).write.format("shmr").option("codec", "text").mode("append").save(out)
    back = (
        spark.read.format("shmr").option("codec", "text").load(f"{out}/part-*.txt")
    )
    assert sorted(r.value for r in back.collect()) == ["alpha", "beta", "gamma"]


@pytest.mark.skipif(
    not os.path.exists(f"{REF_RES}/people.00.csv"), reason="reference absent"
)
def test_writer_output_is_valid_reference_input(registered, tmp_path):
    """Interop both ways: files written by the DataSource run through
    the actual reference CLI (count must use our .meta sidecar; map
    must parse our ND-JSON lines)."""
    from tests.test_differential_reference import run_ref

    spark = registered
    out = str(tmp_path / "ds")
    spark.range(100).selectExpr("id AS x").coalesce(1).write.format("shmr").mode(
        "append"
    ).save(out)

    import glob

    part = glob.glob(f"{out}/part-*.json")[0]
    cnt = tmp_path / "n.txt"
    run_ref(["-i", part, "partition.count", "--outfile", str(cnt)])
    assert cnt.read_text() == "100"

    mapped = tmp_path / "mapped.json"
    run_ref(
        [
            "-i", part,
            "partition.map", "--fn", "tests.cli_fixture_fns.by_x",
            "--outfile", str(mapped),
        ]
    )
    vals = [json.loads(line) for line in mapped.read_text().splitlines()]
    assert vals == list(range(100))


@pytest.mark.skipif(
    not os.path.exists(f"{REF_RES}/people.00.csv"), reason="reference absent"
)
def test_writer_gz_output_is_valid_reference_input(registered, tmp_path):
    """Same interop claim for COMPRESSED output: the .meta sidecar of
    'part-N.json.gz' must be 'part-N.json.meta' (reference's
    single-extension rule, partition_writer.py:64-70) so the reference
    CLI's memoized count actually consumes it."""
    from tests.test_differential_reference import run_ref

    spark = registered
    out = str(tmp_path / "ds")
    spark.range(100).selectExpr("id AS x").coalesce(1).write.format("shmr").option(
        "compression", "gz"
    ).mode("append").save(out)

    import glob

    part = glob.glob(f"{out}/part-*.json.gz")[0]
    # sidecar sits next to the datafile under the reference's naming
    assert os.path.exists(part[: -len(".gz")] + ".meta")

    cnt = tmp_path / "n.txt"
    run_ref(["-i", part, "partition.count", "--outfile", str(cnt)])
    assert cnt.read_text() == "100"

    mapped = tmp_path / "mapped.json"
    run_ref(
        [
            "-i", part,
            "partition.map", "--fn", "tests.cli_fixture_fns.by_x",
            "--outfile", str(mapped),
        ]
    )
    vals = [json.loads(line) for line in mapped.read_text().splitlines()]
    assert vals == list(range(100))


def test_overwrite_clears_previous_files(registered, tmp_path):
    """mode('overwrite') must not leave stale part files from a wider
    previous write mixing into subsequent reads."""
    spark = registered
    out = str(tmp_path / "ds")
    spark.range(40).selectExpr("id").repartition(4).write.format("shmr").mode(
        "overwrite"
    ).save(out)
    spark.range(10).selectExpr("id").repartition(2).write.format("shmr").mode(
        "overwrite"
    ).save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".json")]
    assert len(parts) == 2
    back = spark.read.format("shmr").schema("id bigint").load(f"{out}/part-*.json")
    assert back.count() == 10


def test_append_does_not_clobber(registered, tmp_path):
    """Two append jobs write distinct files (per-job token) — the
    second append must not truncate the first's part-00000."""
    spark = registered
    out = str(tmp_path / "ds")
    for _ in range(2):
        spark.range(25).selectExpr("id").coalesce(1).write.format("shmr").mode(
            "append"
        ).save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".json")]
    assert len(parts) == 2
    back = spark.read.format("shmr").schema("id bigint").load(f"{out}/part-*.json")
    assert back.count() == 50
    assert not [f for f in os.listdir(out) if f.startswith(".inprogress-")]


def test_json_writer_handles_timestamps_and_decimals(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "ts")
    spark.sql(
        "SELECT TIMESTAMP '2024-05-06 07:08:09' AS ts, DATE '2024-05-06' AS d, "
        "CAST(1.5 AS DECIMAL(10,2)) AS dec, CAST(NULL AS STRING) AS s"
    ).coalesce(1).write.format("shmr").mode("append").save(out)
    line = json.loads(
        open(os.path.join(out, [f for f in os.listdir(out) if f.endswith(".json")][0]))
        .read()
        .strip()
    )
    assert line["ts"].startswith("2024-05-06T07:08:09")
    assert line["d"] == "2024-05-06"
    assert line["dec"] == 1.5
    assert line["s"] is None


def test_inference_tolerates_nulls(registered, tmp_path):
    spark = registered
    out = tmp_path / "nulls"
    out.mkdir()
    with open(out / "p.json", "w") as f:
        f.write('{"a": null, "b": 1}\n{"a": 5, "b": 2}\n{"a": null, "c": null}\n')
    df = spark.read.format("shmr").load(str(out / "p.json"))
    assert dict(df.dtypes) == {"a": "bigint", "b": "bigint", "c": "string"}
    got = sorted(((r.a, r.b) for r in df.collect()), key=repr)
    assert got == sorted([(None, None), (None, 1), (5, 2)], key=repr)


def test_csv_typed_read_and_malformed_error(registered, tmp_path):
    spark = registered
    d = tmp_path / "csv"
    d.mkdir()
    with open(d / "p.csv", "w") as f:
        f.write("alice,30\nbob,\n")
    df = (
        spark.read.format("shmr")
        .schema("name string, age int")
        .option("codec", "csv")
        .load(str(d / "p.csv"))
    )
    rows = {r.name: r.age for r in df.collect()}
    assert rows == {"alice": 30, "bob": None}  # typed int + empty→NULL

    with open(d / "bad.csv", "w") as f:
        f.write("x,1,EXTRA\n")
    bad = (
        spark.read.format("shmr")
        .schema("name string, age int")
        .option("codec", "csv")
        .load(str(d / "bad.csv"))
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="malformed|MALFORMED|fields"):
        bad.collect()


def test_stream_reader_incremental_files(registered, tmp_path):
    """readStream over a growing partition directory: the first batch
    ingests the existing files, later batches pick up ONLY the new
    ones (exactly-once: no re-reads of committed files)."""
    import json as jsonmod
    import time

    spark = registered
    d = tmp_path / "stream_in"
    d.mkdir()
    for i in range(2):
        with open(d / f"part-{i:05d}.json", "w") as f:
            for j in range(5):
                f.write(jsonmod.dumps({"x": i, "y": i * 5 + j}) + "\n")

    sdf = (
        spark.readStream.format("shmr")
        .schema("x bigint, y bigint")
        .option("codec", "json")
        .load(str(d))
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("shmr_stream_test")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def _wait_for(n, timeout=30):
        deadline = time.time() + timeout
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM shmr_stream_test").collect()
            if len(rows) >= n:
                return rows
            time.sleep(0.3)
        raise AssertionError(
            f"stream did not reach {n} rows in {timeout}s "
            f"(got {len(rows)})"
        )

    try:
        rows = _wait_for(10)
        assert len(rows) == 10
        # a new file sorting AFTER the high-water name streams in
        with open(d / "part-00002.json", "w") as f:
            for j in range(3):
                f.write(jsonmod.dumps({"x": 2, "y": 100 + j}) + "\n")
        rows = _wait_for(13)
        got = {(r.x, r.y) for r in rows}
        assert (2, 100) in got and (2, 102) in got
        assert len(rows) == 13  # earlier files not re-read
    finally:
        q.stop()


def test_stream_reader_rejects_out_of_order_file(registered, tmp_path):
    """A file materializing BELOW the committed high-water name would
    be silently skipped by a name-watermark source; ours fails the
    query with a clear message instead."""
    import json as jsonmod
    import time

    spark = registered
    d = tmp_path / "stream_ooo"
    d.mkdir()
    with open(d / "part-00005.json", "w") as f:
        f.write(jsonmod.dumps({"x": 1}) + "\n")

    sdf = (
        spark.readStream.format("shmr")
        .schema("x bigint")
        .load(str(d))
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("shmr_stream_ooo")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM shmr_stream_ooo").count() >= 1:
                break
            time.sleep(0.3)
        # late file BELOW the committed high-water name
        with open(d / "part-00001.json", "w") as f:
            f.write(jsonmod.dumps({"x": 2}) + "\n")
        deadline = time.time() + 30
        while q.isActive and time.time() < deadline:
            time.sleep(0.3)
        assert not q.isActive, "query should fail on out-of-order file"
        err = str(q.exception())
        assert "sorted-name order" in err or "BELOW" in err
    finally:
        if q.isActive:
            q.stop()


def test_stream_reader_skips_success_marker_across_appends(registered, tmp_path):
    """A directory filled by shmr append writes holds a ``_SUCCESS``
    marker next to the part files; the stream must read only the part
    files, and a second append must stream in after the first."""
    import time

    spark = registered
    d = str(tmp_path / "appended")

    def _append(lo):
        spark.range(lo, lo + 25).selectExpr("id").coalesce(1).write.format(
            "shmr"
        ).mode("append").save(d)

    _append(0)
    q = (
        spark.readStream.format("shmr")
        .schema("id bigint")
        .load(d)
        .writeStream.format("memory")
        .queryName("shmr_stream_appends")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def _wait_for(n, timeout=30):
        deadline = time.time() + timeout
        while time.time() < deadline:
            ids = [r.id for r in spark.sql("SELECT id FROM shmr_stream_appends").collect()]
            if len(ids) >= n or not q.isActive:
                return ids
            time.sleep(0.3)
        raise AssertionError(f"stream did not reach {n} rows in {timeout}s")

    try:
        ids = _wait_for(25)
        assert None not in ids and sorted(ids) == list(range(25))
        _append(25)
        ids = _wait_for(50)
        assert q.exception() is None
        assert None not in ids and sorted(ids) == list(range(50))
    finally:
        q.stop()


def test_stream_pipeline_checkpoint_restart_exactly_once(registered, tmp_path):
    """End-to-end incremental corpus ingest: shmr stream source →
    annotate → parquet sink with checkpoint. The query is STOPPED and
    RESTARTED from the checkpoint with a new file present — the
    committed files must not be re-processed (offset log honored), the
    new file must land exactly once."""
    import json as jsonmod
    import time

    spark = registered
    src = tmp_path / "incoming"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def _write_file(i, n):
        with open(src / f"part-{i:05d}.json", "w") as f:
            for j in range(n):
                f.write(jsonmod.dumps({"doc_id": i * 100 + j, "text": f"doc {i} {j}"}) + "\n")

    def _start():
        from pyspark.sql import functions as F

        sdf = (
            spark.readStream.format("shmr")
            .schema("doc_id bigint, text string")
            .load(str(src))
            .withColumn("n_chars", F.length("text"))
        )
        return (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def _wait_rows(n, timeout=30):
        deadline = time.time() + timeout
        count = -1
        while time.time() < deadline:
            try:
                count = spark.read.parquet(sink).count()
            except Exception:
                count = 0
            if count >= n:
                return count
            time.sleep(0.3)
        raise AssertionError(f"sink at {count} rows, wanted {n}")

    _write_file(0, 4)
    _write_file(1, 4)
    q = _start()
    try:
        assert _wait_rows(8) == 8
    finally:
        q.stop()

    # new file arrives while the query is DOWN; restart from checkpoint
    _write_file(2, 3)
    q = _start()
    try:
        assert _wait_rows(11) == 11  # == : files 0/1 not re-processed
        got = {r.doc_id for r in spark.read.parquet(sink).collect()}
        assert {200, 201, 202} <= got
    finally:
        q.stop()


@pytest.mark.parametrize(
    "text, error",
    [
        ('null\n{"a": 1}\n', "AttributeError"),
        ('null {"a": 1}\n{"a": 2}\n', "JSONDecodeError"),
        ('{"a": 1}\nnull\n{"a": 2}\n', "AttributeError"),
        ('{"a": 1}\n\n{"a": 2}\n', "JSONDecodeError"),
        ('{"a": 1}\n  \t\n', "JSONDecodeError"),
        ('{"a": 1}{"a": 2}\n', "JSONDecodeError"),
    ],
    ids=["leading-null", "leading-null-line", "mid-null", "blank", "whitespace", "two-objects"],
)
def test_malformed_json_raises_in_task_and_worker_survives(registered, tmp_path, text, error):
    """Each of these fails the task with the row decoder's error; none
    reaches pyarrow's JSON reader, which segfaults on a leading
    ``null`` record and reads a later one as an all-null row."""
    spark = registered
    bad = tmp_path / "bad.json"
    bad.write_text(text)
    with pytest.raises(Exception) as info:
        spark.read.format("shmr").schema("a bigint").load(str(bad)).collect()
    assert error in str(info.value)
    assert "crashed" not in str(info.value)
    good = tmp_path / "good.json"
    good.write_text('{"a": 1}\n{"a": 2}\n')
    df = spark.read.format("shmr").schema("a bigint").load(str(good))
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_stream_reads_the_rows_the_batch_reader_reads(registered, tmp_path):
    """Both readers share the decode: chunks pyarrow decodes, a chunk
    the row decoder takes (a nested value and a boolean in a string
    column, a duplicate key, NaN and Infinity), and a gzip file."""
    import gzip

    spark = registered
    d = tmp_path / "both"
    d.mkdir()
    _write_lines(d / "part-00000.json", [{"k": i, "v": i / 4, "s": f"r{i}"} for i in range(40)])
    with open(d / "part-00001.json", "w") as f:
        f.write('{"k": 100, "v": NaN, "s": {"nested": [1, 2]}}\n')
        f.write('{"k": 101, "k": 102, "v": Infinity, "s": true}\n')
    with gzip.open(d / "part-00002.json.gz", "wt") as f:
        for i in range(200, 230):
            f.write(json.dumps({"k": i, "s": "é" * (i % 3)}) + "\n")
    schema = "k bigint, v double, s string"
    batch = spark.read.format("shmr").schema(schema).load(str(d)).collect()
    q = (
        spark.readStream.format("shmr")
        .schema(schema)
        .load(str(d))
        .writeStream.format("memory")
        .queryName("shmr_stream_vs_batch")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
        assert q.exception() is None
        streamed = spark.sql("SELECT * FROM shmr_stream_vs_batch").collect()
    finally:
        q.stop()
    assert len(batch) == 72
    assert sorted(map(repr, streamed)) == sorted(map(repr, batch))
