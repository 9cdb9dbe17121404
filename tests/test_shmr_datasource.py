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


def test_pushdown_over_packed_task_matches_plain_read(registered, tmp_path):
    spark = registered
    for i in range(4):
        _write_lines(
            tmp_path / f"part-{i:05d}.json",
            [{"x": i * 10 + j, "s": None if j == 2 else f"s{j}"} for j in range(6)],
        )

    def rd(push):
        r = spark.read.format("shmr").schema("x bigint, s string")
        if push:
            r = r.option("pushdown", "true")
        return r.load(str(tmp_path / "part-*.json"))

    assert rd(True).rdd.getNumPartitions() == 1
    for p in ["x > 12", "s IS NULL", "NOT (x IN (1, 21, 33))", "s LIKE 's1%'"]:
        pushed = sorted(map(tuple, rd(True).filter(p).collect()), key=repr)
        plain = sorted(map(tuple, rd(False).filter(p).collect()), key=repr)
        assert pushed == plain and pushed, f"pushdown diverged on {p!r}"


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


@pytest.mark.heavy  # slow evidence re-derivation; run via `pytest -m heavy` each round
def test_pushdown_filters_match_spark_side_evaluation(registered, tmp_path):
    """The pushdown tier must be semantics-invisible: every filter
    evaluated source-side (incl. three-valued NULL logic under NOT /
    IN) returns exactly the rows the plain reader + Spark-side filter
    returns on the same data."""
    import json as jsonmod

    spark = registered
    d = tmp_path / "push"
    d.mkdir()
    recs = [
        {"x": 1, "s": "apple"},
        {"x": 2, "s": "banana"},
        {"x": None, "s": "pear"},
        {"x": 5, "s": None},
        {"x": 7, "s": "plum"},
        {"x": -3, "s": ""},
        {"x": None, "s": None},
    ]
    with open(d / "part-00000.json", "w") as f:
        for r in recs:
            f.write(jsonmod.dumps(r) + "\n")

    def rd(push):
        r = spark.read.format("shmr").schema("x bigint, s string")
        if push:
            r = r.option("pushdown", "true")
        return r.load(str(d / "part-*.json"))

    predicates = [
        "x > 1",
        "NOT (x > 1)",
        "x IN (2, 7)",
        "NOT (x IN (2, 7))",
        "x IS NULL",
        "s IS NOT NULL",
        "s <=> NULL",
        "s LIKE 'p%'",
        "s LIKE '%m'",
        "s LIKE '%an%'",
        "x >= 2 AND x <= 5",
        "x = 5 OR s = 'apple'",  # OR: not pushable, stays Spark-side
    ]
    for p in predicates:
        pushed = sorted(map(tuple, rd(True).filter(p).collect()), key=repr)
        plain = sorted(map(tuple, rd(False).filter(p).collect()), key=repr)
        assert pushed == plain, f"pushdown diverged on {p!r}"

    # doubles incl. NaN: Spark orders NaN greater than everything and
    # NaN == NaN — the pushed evaluator must agree, not Python's
    # all-False NaN comparisons (separate directory: its own schema)
    dn = tmp_path / "push_nan"
    dn.mkdir()
    with open(dn / "part-00000.json", "w") as f:
        for v in [1.5, float("nan"), -2.0, None]:
            f.write(jsonmod.dumps({"y": v}) + "\n")

    def rd_d(push):
        r = spark.read.format("shmr").schema("y double")
        if push:
            r = r.option("pushdown", "true")
        return r.load(str(dn / "part-*.json"))

    for p in ["y > 1.0", "y <= 1.5", "NOT (y > 1.0)", "y = CAST('NaN' AS DOUBLE)"]:
        # repr-compare: Python's nan != nan would fail tuple equality
        pushed = sorted(repr(tuple(r)) for r in rd_d(True).filter(p).collect())
        plain = sorted(repr(tuple(r)) for r in rd_d(False).filter(p).collect())
        assert pushed == plain, f"NaN pushdown diverged on {p!r}"
    # the NaN row itself must survive y > 1.0 (NaN is largest in Spark)
    import math

    kept = [r.y for r in rd_d(True).filter("y > 1.0").collect()]
    assert any(isinstance(v, float) and math.isnan(v) for v in kept)


def test_pushdown_appears_in_plan_and_cuts_transfer(registered, tmp_path):
    import json as jsonmod

    spark = registered
    d = tmp_path / "push_plan"
    d.mkdir()
    with open(d / "part-00000.json", "w") as f:
        for i in range(100):
            f.write(jsonmod.dumps({"x": i}) + "\n")
    df = (
        spark.read.format("shmr")
        .schema("x bigint")
        .option("pushdown", "true")
        .load(str(d / "part-*.json"))
        .filter("x > 90")
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in plan and "GreaterThan(x,90)" in plan
    assert df.count() == 9
