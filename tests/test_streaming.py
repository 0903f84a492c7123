"""Streaming engine tests: exactly-once sink under replay + restart,
watermark late-data behavior, session windows, stateful resolver with
out-of-order arrivals (E1-E10)."""

import datetime as dt
import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from maxx_spark.schema import PAGES
from maxx_spark.streaming.pipeline import (
    extraction_query,
    session_unit_counts,
    salted_host_counts,
    windowed_unit_counts,
    run_to_memory,
)
from maxx_spark.streaming.resolver import (
    assemble_classfolders_stream,
    resolve_bases_stream,
)
from maxx_spark.streaming.sink import ExactlyOnceParquetSink
from maxx_spark.streaming.source import stage_pages_dir, pages_stream


@pytest.fixture()
def staged(spark, tmp_path):
    src = str(tmp_path / "pages")
    n = stage_pages_dir(spark, src, n_chunks=3, n_projects=2, n_filler=30)
    return src, n


def test_exactly_once_extraction(spark, staged, tmp_path):
    src, _ = staged
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q, sink = extraction_query(spark, src, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)

    committed = sink.read_committed(spark)
    n1 = committed.count()
    assert n1 > 0
    batches = sink.committed_batches()
    assert len(batches) >= 2  # maxFilesPerTrigger=1 over 3 files

    # batch replay (simulating a foreachBatch retry) must be a no-op
    sample = committed.limit(5)
    sink(sample, batches[0])
    assert sink.read_committed(spark).count() == n1

    # restart from the same checkpoint: no new input → no new batches, no dupes
    q2, sink2 = extraction_query(spark, src, out, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(300)
    assert sink2.read_committed(spark).count() == n1

    # exactly-once vs batch reference: committed row set == batch pipeline rows
    from maxx_spark.extract import extract_code_units

    batch_ref = extract_code_units(
        spark.read.schema(PAGES).parquet(src)
    )
    assert committed.count() == batch_ref.count()
    a = {tuple(r) for r in committed.select("url", "unit_path", "kind", "name").collect()}
    b = {tuple(r) for r in batch_ref.select("url", "unit_path", "kind", "name").collect()}
    assert a == b

    # lineage recorded per (batch, partition)
    lineage = sink.read_lineage(spark)
    assert lineage is not None
    # nothing committed yet: an empty frame with the lineage schema
    empty = ExactlyOnceParquetSink(str(tmp_path / "nolineage")).read_lineage(spark)
    assert empty.collect() == [] and empty.columns == lineage.columns
    lrows = lineage.collect()
    assert sum(r["rows"] for r in lrows) == n1
    # non-empty partitions carry event-time bounds (from parquet footers)
    assert all(r["min_ts"] is not None for r in lrows if r["rows"] > 0)


def test_incremental_resume_processes_new_files(spark, staged, tmp_path):
    src, _ = staged
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    q, sink = extraction_query(spark, src, out, ckpt)
    q.awaitTermination(300)
    n1 = sink.read_committed(spark).count()

    # new files arrive; resumed query picks up ONLY them
    stage_pages_dir(spark, src, n_chunks=1, n_projects=1, n_filler=5, seed=99)
    q2, sink2 = extraction_query(spark, src, out, ckpt)
    q2.awaitTermination(300)
    n2 = sink2.read_committed(spark).count()
    assert n2 > n1


def _rows_hash(df):
    """Row count and an order-insensitive hash over every column."""
    cols = [F.col(c).cast("string") for c in df.columns]
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).first()
    return r["n"], r["h"]


def test_live_extraction_runs_back_to_back(spark, tmp_path):
    """A live query (no availableNow) keeps Spark's default trigger: the next
    micro-batch starts when the previous one commits, and an idle source is
    polled every 500 ms. Files staged in two waves, the second while the
    query runs, commit exactly the rows of a batch extraction."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from maxx_spark.extract import extract_code_units
    from maxx_spark.gen import generate_pages_rows
    from maxx_spark.schema import CODE_UNITS

    src, side = str(tmp_path / "live_src"), str(tmp_path / "live_side")
    os.makedirs(src)
    os.makedirs(side)
    rows = generate_pages_rows(n_projects=1, n_filler=2, seed=7)
    arrow_schema = to_arrow_schema(PAGES)

    def stage(k0, part):
        # one page per file, written aside and renamed in whole
        for k, row in enumerate(part, k0):
            name = f"live-{k:03d}.parquet"
            table = pa.Table.from_pylist([dict(zip(PAGES.fieldNames(), row))], schema=arrow_schema)
            pq.write_table(table, os.path.join(side, name))
            os.rename(os.path.join(side, name), os.path.join(src, name))

    def wait_committed():
        # every staged file is in a committed batch once the sink holds the
        # batch extraction's row count (non-MATLAB pages yield no rows, and
        # parquet row-group pruning keeps them out of numInputRows)
        want = extract_code_units(spark.read.schema(PAGES).parquet(src))
        n, deadline = want.count(), time.time() + 240
        while sink.read_committed(spark).count() < n:
            assert q.exception() is None, q.exception()
            assert time.time() < deadline, "live query did not commit every staged file"
            time.sleep(0.5)
        return want

    q, sink = extraction_query(spark, src, str(tmp_path / "live_out"), str(tmp_path / "live_ckpt"),
                               max_files_per_trigger=None, available_now=False)
    try:
        first, second = rows[:15], rows[15:]
        stage(0, first)
        wait_committed()
        stage(len(first), second)
        want = wait_committed()
        execution = q._jsq.streamingQuery()
        trigger, polling_ms = execution.trigger().toString(), execution.pollingDelayMs()
        batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()

    assert trigger == "ProcessingTimeTrigger(0)"
    assert polling_ms == 500
    assert len(batches) >= 2 and set(batches) <= set(sink.committed_batches())
    committed = sink.read_committed(spark).select(*CODE_UNITS.fieldNames())
    assert _rows_hash(committed) == _rows_hash(want)


def test_windowed_counts_stream(spark, staged, tmp_path):
    src, _ = staged
    pages = pages_stream(spark, src)
    agg = windowed_unit_counts(pages, delay="10 minutes", size="5 minutes")
    run_to_memory(agg, "win_counts_t", str(tmp_path / "c1"), output_mode="append")
    rows = spark.sql("select * from win_counts_t").collect()
    assert rows and all(r["n_units"] > 0 for r in rows)
    hosts = {r["host"] for r in rows}
    assert any("example" in h for h in hosts)


def test_session_windows_stream(spark, staged, tmp_path):
    src, _ = staged
    pages = pages_stream(spark, src)
    agg = session_unit_counts(pages, delay="10 minutes", gap="2 minutes")
    run_to_memory(agg, "sess_counts_t", str(tmp_path / "c2"))
    rows = spark.sql("select * from sess_counts_t").collect()
    assert rows
    for r in rows:
        assert r["session_end"] > r["session_start"]


def test_salted_host_counts_matches_plain(spark, tmp_path):
    # late-free input: the batch reference has no watermark, so drop-eligible
    # rows would differ by design (that behavior is covered separately in
    # test_watermark_drops_late_rows)
    src = str(tmp_path / "pages_nolate")
    stage_pages_dir(spark, src, n_chunks=3, n_projects=2, n_filler=30,
                    late_frac=0.0, ooo_frac=0.0)
    # far-future heartbeat advances the watermark past every real window so
    # append mode finalizes them before the availableNow query ends
    hb = [("https://heartbeat/x", dt.datetime(2024, 3, 3), None, "hb", "en")]
    spark.createDataFrame(hb, PAGES).coalesce(1).write.mode("append").parquet(src)

    pages = pages_stream(spark, src, max_files_per_trigger=1)
    agg = salted_host_counts(pages, delay="10 minutes", n_salt=8)
    run_to_memory(agg, "salted_t", str(tmp_path / "c3"))
    got = {
        (r["window_start"], r["host"]): r["n_pages"]
        for r in spark.sql("select * from salted_t where host != 'heartbeat'").collect()
    }
    # batch reference: plain (unsalted) windowed count
    batch = (
        spark.read.schema(PAGES).parquet(src)
        .withColumn("host", F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1))
        .where(F.col("host") != "heartbeat")
        .groupBy(F.window("warc_ts", "5 minutes").alias("w"), "host")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "host", "n")
    )
    want = {(r["ws"], r["host"]): r["n"] for r in batch.collect()}
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving in a later micro-batch with event time far behind the
    watermark must be dropped from the windowed aggregate."""
    src = str(tmp_path / "latepages")
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    early = [
        (f"https://h1/x/f{i}.m", t0 + dt.timedelta(minutes=i), None,
         "function y = f(x)\ny = x;\nend", "matlab")
        for i in range(30)
    ]
    late = [
        ("https://h1/x/late.m", t0 - dt.timedelta(hours=3), None,
         "function y = late(x)\ny = x;\nend", "matlab")
    ]
    hb = [("https://hb/x/h.m", t0 + dt.timedelta(days=1), None, "x=1;", "matlab")]
    import time as _time

    def _write(rows, mtime_offset):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, PAGES).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + mtime_offset, now + mtime_offset))

    # FileStreamSource orders micro-batches by mtime. Spark filters late
    # records against the PREVIOUS batch's watermark (watermarkForLateEvents
    # lags eviction by one batch), so an intermediate batch must sit between
    # the watermark-advancing data and the late row for the drop to engage.
    mid = [("https://mid/x/m.m", t0 + dt.timedelta(minutes=29), None, "x=2;", "matlab")]
    _write(early, 0)
    _write(mid, 60)
    _write(late, 120)
    _write(hb, 180)

    pages = (
        spark.readStream.schema(PAGES).option("maxFilesPerTrigger", "1").parquet(src)
    )
    agg = windowed_unit_counts(pages, delay="10 minutes", size="5 minutes")
    run_to_memory(agg, "late_t", str(tmp_path / "c4"))
    rows = spark.sql("select * from late_t where host = 'h1'").collect()
    total = sum(r["n_units"] for r in rows)
    # the late row (3h behind the watermark, arriving in a later micro-batch)
    # must be dropped; all 30 on-time rows must be counted
    assert total == 30
    windows = {r["window_start"] for r in rows}
    late_window = t0 - dt.timedelta(hours=3)
    assert all(w > late_window for w in windows)


def test_resolver_out_of_order_permutations(spark, tmp_path):
    """E6: base/derived/grandchild arriving in every order produce the same
    resolved row set."""
    from maxx_spark.extract import extract_code_units
    import itertools

    t0 = dt.datetime(2024, 6, 1, 9, 0, 0)
    files = {
        "Base": "classdef Base\nend",
        "Mid": "classdef Mid < Base\nend",
        "Leaf": "classdef Leaf < Mid\nend",
    }
    expected = {("Base", "Mid", True), ("Mid", "Leaf", True)}

    for pi, perm in enumerate(itertools.permutations(files.items())):
        src = str(tmp_path / f"perm{pi}")
        for k, (name, text) in enumerate(perm):
            row = [(f"https://h9/x/{name}.m", t0 + dt.timedelta(seconds=k), None, text, "matlab")]
            spark.createDataFrame(row, PAGES).coalesce(1).write.mode("append").parquet(src)
        pages = spark.readStream.schema(PAGES).option("maxFilesPerTrigger", "1").parquet(src)
        units = extract_code_units(pages)
        resolved = resolve_bases_stream(units)
        run_to_memory(resolved, f"resolve_t{pi}", str(tmp_path / f"ck{pi}"))
        rows = spark.sql(f"select * from resolve_t{pi}").collect()
        got = {(r["identifier"], r["derived"], r["resolved"]) for r in rows}
        assert got == expected, f"perm {pi}: {got}"


def test_classfolder_assembly_stream(spark, tmp_path):
    """E5: @Ledger member files arriving out of order assemble into one row
    once the session gap elapses (flushed by a watermark-advancing page)."""
    from maxx_spark.extract import extract_code_units
    from maxx_spark.gen import CF_MAIN, CF_METHOD, CF_STATIC

    t0 = dt.datetime(2024, 7, 1, 8, 0, 0)
    rows1 = [
        (f"https://cf.example/x/@Ledger/{n}.m", t0 + dt.timedelta(seconds=s), None, txt, "matlab")
        for n, txt, s in [
            ("summarize", CF_METHOD, 2),
            ("Ledger", CF_MAIN, 0),
            ("blank_ledger", CF_STATIC, 4),
        ]
    ]
    # two watermark-advancing heartbeats: the first raises the watermark past
    # the session gap; the second provides the batch in which the (now
    # expired) event-time timer actually fires — availableNow does not run a
    # trailing no-data batch, and timer firing uses the eviction watermark of
    # a *real* batch.
    rows2 = [("https://cf.example/x/hb.m", t0 + dt.timedelta(hours=1), None, "x = 1;", "matlab")]
    rows3 = [("https://cf.example/x/hb2.m", t0 + dt.timedelta(hours=2), None, "x = 2;", "matlab")]
    src = str(tmp_path / "cfpages")
    import time as _time

    def _write(rows, off):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, PAGES).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + off, now + off))

    _write(rows1, 0)
    _write(rows2, 60)
    _write(rows3, 120)

    pages = spark.readStream.schema(PAGES).option("maxFilesPerTrigger", "1").parquet(src)
    units = extract_code_units(pages)
    assembled = assemble_classfolders_stream(units, delay="1 minute")
    run_to_memory(assembled, "cf_t", str(tmp_path / "ck_cf"))
    rows = spark.sql("select * from cf_t").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["class_path"] == "Ledger"
    assert r["has_classdef"] is True
    assert sorted(r["member_files"]) == ["Ledger", "blank_ledger", "summarize"]


def test_resolver_with_rocksdb_state_store(spark, tmp_path):
    """The stateful resolver must run on the RocksDB state store provider
    (the bounded-memory scale path for large keyed state)."""
    from maxx_spark.extract import extract_code_units

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        t0 = dt.datetime(2024, 6, 2, 9, 0, 0)
        files = {"RBase": "classdef RBase\nend", "RLeaf": "classdef RLeaf < RBase\nend"}
        src = str(tmp_path / "rocks")
        for k, (name, text) in enumerate(reversed(files.items())):
            row = [(f"https://r9/x/{name}.m", t0 + dt.timedelta(seconds=k), None, text, "matlab")]
            spark.createDataFrame(row, PAGES).coalesce(1).write.mode("append").parquet(src)
        pages = spark.readStream.schema(PAGES).option("maxFilesPerTrigger", "1").parquet(src)
        resolved = resolve_bases_stream(extract_code_units(pages))
        run_to_memory(resolved, "rocks_t", str(tmp_path / "rocks_ck"))
        rows = spark.sql("select * from rocks_t").collect()
        assert {(r["identifier"], r["derived"], r["resolved"]) for r in rows} == {
            ("RBase", "RLeaf", True)
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_dead_letter_routing(spark, tmp_path):
    """Error rows land in errors/batch_id=N as well as the data dir."""
    import glob as _glob
    from maxx_spark.streaming.sink import ExactlyOnceParquetSink
    from maxx_spark.extract import extract_code_units

    t0 = dt.datetime(2024, 6, 3)
    rows = [
        ("https://dl/x/good.m", t0, None, "function y = good(x)\ny = x;\nend", "matlab"),
        ("https://dl/x/bad.mlx", t0, b"PK\x03\x04 broken zip bytes!", None, "matlab"),
    ]
    df = spark.createDataFrame(rows, PAGES)
    units = extract_code_units(df)
    sink = ExactlyOnceParquetSink(str(tmp_path / "dlq"))
    sink(units, 0)
    errs = _glob.glob(str(tmp_path / "dlq/errors/batch_id=0/*.parquet"))
    assert errs
    edf = spark.read.parquet(str(tmp_path / "dlq/errors/batch_id=0"))
    assert edf.count() == 1 and "BadZipFile" in edf.first()["error"]
    # data dir still holds everything (single source of truth)
    assert sink.read_committed(spark).count() == 2


_DLQ_CLASS = """classdef (Sealed) Widget < handle
    properties (Access = private)
        x
    end
    methods
        function obj = Widget(a, b)
            % Widget  build one.
            %
            % Examples:
            %   w = Widget(1, 'x');
            arguments
                a double = 1
                b (1,:) char = 'x'
            end
            obj.x = a;
        end
    end
end"""


def _dlq_units(spark, n_bad=4, n_good=4):
    """Extracted units of good and malformed pages; the class, function and
    live-script units of the good pages are also marked as errors, so error
    rows carry non-null nested columns (attributes, arguments, sections)."""
    from maxx_spark.extract import extract_code_units

    t0 = dt.datetime(2024, 6, 3)
    rows = [(f"https://dl/x/+p{i}/Widget.m", t0 + dt.timedelta(minutes=i), None, _DLQ_CLASS, "matlab")
            for i in range(n_good)]
    rows += [(f"https://dl/x/+p{i}/demo.m", t0, None, "%% Setup\nx = 1;\n%% Plot\nplot(x);", "matlab")
             for i in range(n_good)]
    rows += [(f"https://dl/x/bad{i}.mlx", t0, b"PK\x03\x04 broken zip bytes!", None, "matlab")
             for i in range(n_bad)]
    units = extract_code_units(spark.createDataFrame(rows, PAGES))
    return units.withColumn(
        "error",
        F.when(F.col("kind").isin("class", "function", "live_script"), F.lit("flagged upstream"))
        .otherwise(F.col("error")),
    )


def _json_rows(df):
    return sorted(r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect())


def _dlq_files(base, batch_id):
    return sorted(os.listdir(f"{base}/errors/batch_id={batch_id}"))


def test_dead_letter_copy_parity(spark, tmp_path):
    """The driver-side copy writes exactly the committed error rows, with
    every column (``__pid``, timestamp type, nested columns) as Spark
    wrote them, from a batch whose errors sit in two data files."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "dlqp")
    sink = ExactlyOnceParquetSink(base)
    sink(_dlq_units(spark).repartition(2), 0)

    data = spark.read.parquet(f"{base}/data/batch_id=0")
    want = data.where(F.col("error").isNotNull())
    per_file = want.groupBy("__pid").count().collect()
    assert len(per_file) >= 2, "errors must span at least two data files"
    for col in ("attributes", "arguments", "sections"):
        assert want.where(F.col(col).isNotNull()).count() > 0, col

    assert _dlq_files(base, 0) == ["part-00000.parquet"]
    got = spark.read.parquet(f"{base}/errors/batch_id=0")
    assert got.schema == data.schema  # incl. __pid and TimestampType warc_ts
    assert _json_rows(got) == _json_rows(want)
    committed = sink.read_committed(spark).where(F.col("error").isNotNull())
    assert _json_rows(got.drop("__pid")) == _json_rows(committed)
    # the file keeps Spark's row metadata and TIMESTAMP_MICROS event time
    arrow = pq.read_schema(f"{base}/errors/batch_id=0/part-00000.parquet")
    assert arrow.field("warc_ts").type == pa.timestamp("us", tz="UTC")
    assert b"org.apache.spark.sql.parquet.row.metadata" in arrow.metadata
    with open(f"{base}/_commits/0.json") as f:
        assert json.load(f)["dlq_rows"] == want.count()

    # a batch without errors writes no errors/ directory
    clean = _dlq_units(spark, n_bad=0).where(F.col("error").isNull())
    sink(clean, 1)
    assert not os.path.exists(f"{base}/errors/batch_id=1")
    with open(f"{base}/_commits/1.json") as f:
        assert json.load(f)["dlq_rows"] == 0


def test_dead_letter_copy_without_statistics(tmp_path):
    """Row groups without footer statistics are flagged whole and scanned,
    so every error row is routed and no exact count is claimed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maxx_spark.streaming.sink import copy_error_rows

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    errors = [f"e{i}" if i % 7 == 3 else None for i in range(40)]
    table = pa.table({
        "warc_ts": pa.array([dt.datetime(2024, 1, 1, 0, i) for i in range(40)], pa.timestamp("us")),
        "row": pa.array(range(40), pa.int64()),
        "error": pa.array(errors, pa.string()),
    })
    pq.write_table(table, str(data_dir / "part-00000-x.parquet"),
                   row_group_size=8, write_statistics=False)

    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    lineage, flagged, expected = sink._footer_lineage(str(data_dir), 0)
    assert lineage[0]["rows"] == 40 and expected is None
    assert flagged == [(str(data_dir / "part-00000-x.parquet"), [0, 1, 2, 3, 4])]
    out = str(tmp_path / "dlq")
    assert copy_error_rows(flagged, out) == sum(e is not None for e in errors)
    got = pq.read_table(f"{out}/part-00000.parquet")
    assert got.column("row").to_pylist() == [i for i, e in enumerate(errors) if e is not None]
    assert got.column("error").to_pylist() == [e for e in errors if e is not None]


def test_dead_letter_count_mismatch_blocks_commit(spark, tmp_path, monkeypatch):
    """A copy that disagrees with the footers' exact error count fails the
    batch before its marker; the replay then commits the full copy."""
    import json

    from maxx_spark.streaming import sink as sink_mod

    base = str(tmp_path / "dlqm")
    sink = ExactlyOnceParquetSink(base)
    units = _dlq_units(spark)
    real = sink_mod._error_rows
    monkeypatch.setattr(sink_mod, "_error_rows", lambda t: real(t).slice(1))
    with pytest.raises(RuntimeError, match="dead-letter rows"):
        sink(units, 0)
    assert not sink.is_committed(0)
    assert not os.path.exists(f"{base}/errors/batch_id=0")

    monkeypatch.setattr(sink_mod, "_error_rows", real)
    sink(units, 0)
    with open(f"{base}/_commits/0.json") as f:
        n = json.load(f)["dlq_rows"]
    assert n == sink.read_committed(spark).where(F.col("error").isNotNull()).count() > 0


def test_dead_letter_replay_clears_stale_files(spark, tmp_path):
    """A crash between the DLQ write and the marker leaves files behind; the
    replay of that batch leaves exactly one DLQ file holding exactly the
    committed error rows."""
    base = str(tmp_path / "dlqr")
    sink = ExactlyOnceParquetSink(base)
    units = _dlq_units(spark)
    stale_dir = f"{base}/errors/batch_id=3"
    os.makedirs(stale_dir)
    units.limit(2).toPandas().to_parquet(f"{stale_dir}/part-00007-stale.parquet")
    assert not sink.is_committed(3)

    sink(units, 3)
    assert _dlq_files(base, 3) == ["part-00000.parquet"]
    got = spark.read.parquet(stale_dir).drop("__pid")
    want = sink.read_committed(spark).where(F.col("error").isNotNull())
    assert _json_rows(got) == _json_rows(want)


def test_dedup_units_stream(spark, tmp_path):
    """Streaming first-seen dedup: the same file crawled twice within the
    watermark yields one unit row per (host, unit_path, kind)."""
    from maxx_spark.streaming.pipeline import dedup_units_stream

    t0 = dt.datetime(2024, 8, 1)
    src = str(tmp_path / "ddup")
    text = "function y = dupfn(x)\ny = x;\nend"
    rows = [
        ("https://dd/x/dupfn.m", t0, None, text, "matlab"),
        ("https://dd/x/dupfn.m", t0 + dt.timedelta(seconds=30), None, text, "matlab"),
        ("https://dd/x/other.m", t0 + dt.timedelta(seconds=10), None, "x=1;", "matlab"),
    ]
    spark.createDataFrame(rows, PAGES).coalesce(1).write.parquet(src)
    out = dedup_units_stream(spark.readStream.schema(PAGES).parquet(src))
    run_to_memory(out, "ddup_t", str(tmp_path / "ddup_ck"))
    got = [(r["unit_path"], r["kind"]) for r in spark.sql("select * from ddup_t").collect()]
    assert sorted(got) == [("dupfn", "function"), ("other", "script")]


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert "unit_path" in df.columns and "kind" in df.columns


def test_unresolved_flush_on_error_only_batches(spark, tmp_path):
    """ADVICE r1 (medium): pending unresolved bases must flush even when all
    later micro-batches carry only error-kind pages. Error rows become
    salted clock ticks (never filtered below the watermark), so the event
    clock advances and the keyed state times out."""
    from maxx_spark.extract import extract_code_units

    t0 = dt.datetime(2024, 6, 1, 9, 0, 0)
    src = str(tmp_path / "errsrc")
    bad = bytearray(b"PK\x03\x04corrupted-not-a-zip")
    batches = [
        [("https://h1/x/Orphan.m", t0, None, "classdef Orphan < MissingBase\nend", "matlab")],
        [("https://h1/x/bad1.mlx", t0 + dt.timedelta(hours=1), bad, None, "matlab")],
        [("https://h1/x/bad2.mlx", t0 + dt.timedelta(hours=2), bad, None, "matlab")],
    ]
    import time as _time

    for off, rows in enumerate(batches):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, PAGES).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + off * 60, now + off * 60))

    pages = spark.readStream.schema(PAGES).option("maxFilesPerTrigger", "1").parquet(src)
    units = extract_code_units(pages)
    # sanity: the corrupt .mlx really produces kind='error' rows
    batch_units = extract_code_units(spark.read.schema(PAGES).parquet(src))
    kinds = {r["kind"] for r in batch_units.collect()}
    assert "error" in kinds

    resolved = resolve_bases_stream(units)
    run_to_memory(resolved, "err_flush_t", str(tmp_path / "ck_err"))
    rows = spark.sql("select * from err_flush_t").collect()
    got = {(r["identifier"], r["derived"], r["resolved"]) for r in rows}
    assert ("MissingBase", "Orphan", False) in got


def test_tick_keys_are_salted(spark):
    """VERDICT r1: the unsalted (host, '') tick key funneled 50% of the
    stream through one state task. Salted ticks must spread a mega-host's
    tick rows so no single key receives more than 2/TICK_SALT of them."""
    from maxx_spark.streaming.resolver import TICK_PREFIX, TICK_SALT, _tick_key

    n = 2000
    df = spark.range(n).select(
        F.concat(F.lit("https://mega-mat.example.com/f"), F.col("id"), F.lit(".m")).alias("url")
    )
    counts = df.select(_tick_key().alias("k")).groupBy("k").count().collect()
    assert all(r["k"].startswith(TICK_PREFIX) for r in counts)
    assert len(counts) == TICK_SALT
    assert max(r["count"] for r in counts) <= 2 * n / TICK_SALT


def test_extraction_query_glob_root(spark, tmp_path):
    """P1 streaming form: with a glob_root, pages outside the root's
    membership (top-level private, Contents.m) never reach the extractor."""
    from maxx_spark.gen import generate_pages_df

    src = str(tmp_path / "globsrc")
    generate_pages_df(spark, n_projects=1, n_filler=5).write.mode("overwrite").parquet(src)
    q, sink = extraction_query(
        spark, src, str(tmp_path / "globout"), str(tmp_path / "globck"),
        max_files_per_trigger=None, glob_root="matlab/toolbox",
    )
    q.awaitTermination(300)
    units = sink.read_committed(spark)
    urls = {r["url"] for r in units.select("url").distinct().collect()}
    assert any(u.endswith("/Tracker.m") for u in urls)
    assert any("/subdir/accumulate.m" in u for u in urls)      # recursive default
    assert not any("/private/top_secret.m" in u for u in urls)  # excluded
    assert not any(u.endswith("/Contents.m") for u in urls)     # excluded
    assert not any("/helpers/" in u for u in urls)              # plain below +pkg


def test_resolver_state_tracks_horizon_not_corpus(spark, tmp_path):
    """E6 state-horizon stress: 10,000 state keys streamed across 10
    event-time epochs 20 minutes apart; event-time eviction must hold live
    state at the watermark horizon (~the last 3 epochs), never the corpus
    total — the README's "state tracks the live crawl horizon, not the
    corpus" claim, measured on the engine's own state-store metrics."""
    import time as _time

    src = str(tmp_path / "horizon_src")
    schema = (
        "url string, warc_ts timestamp, unit_path string, kind string, "
        "bases array<string>"
    )
    t0 = dt.datetime(2024, 7, 1, 0, 0, 0)
    n_epochs, per_epoch = 10, 500  # 2 keys/row (def C{k} + need B{k}) = 10k keys
    for e in range(n_epochs):
        ts = t0 + dt.timedelta(minutes=20 * e)
        rows = [
            (
                f"https://h{k % 7}/p/C{k}.m",
                ts,
                f"C{k}",
                "class",
                [f"B{k}"],  # B{k} is never defined -> pending until eviction
            )
            for k in (e * per_epoch + i for i in range(per_epoch))
        ]
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + e * 60, now + e * 60))  # mtime = batch order

    units = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    resolved = resolve_bases_stream(units, delay="10 minutes")
    q = run_to_memory(resolved, "horizon_t", str(tmp_path / "horizon_ck"))

    # epochs whose +10min timers sit below the final watermark flushed their
    # pending needs as unresolved rows: epochs 0..6 by the last batch
    # (watermark in batch j derives from batches < j)
    rows = spark.sql("select * from horizon_t").collect()
    unresolved = [r for r in rows if not r["resolved"]]
    assert len(unresolved) >= per_epoch * (n_epochs - 3), len(unresolved)

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert progresses
    final_rows = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    total_keys = 2 * n_epochs * per_epoch
    live_horizon = 3 * 2 * per_epoch  # last 3 epochs' (def + need) keys
    assert final_rows <= live_horizon + 200, (final_rows, live_horizon)
    assert final_rows < total_keys // 2, (final_rows, total_keys)
    # and the peak never approached the corpus either: eviction ran
    # continuously, not only at the end
    peak = max(p["stateOperators"][0]["numRowsTotal"] for p in progresses)
    assert peak < total_keys, (peak, total_keys)


def _fresh_group_state(schema, wm_ms):
    """Spark's own GroupState for a key without state, in a batch whose
    watermark is ``wm_ms`` (what the executor hands the Python worker)."""
    from pyspark.sql import Row
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    return GroupState(
        Row(), 0, wm_ms, GroupStateTimeout.EventTimeTimeout, False, True,
        False, False, False, GroupState.NO_TIMESTAMP, b"", schema,
    )


def test_resolver_null_event_time_arms_timer_past_watermark():
    """A def row whose warc_ts is null (NaT in pandas) must not move the
    key's clock, and the eviction timer arms from max(clock, watermark): a
    timer behind the watermark raises INVALID_TIMEOUT_TIMESTAMP in Spark's
    GroupState and fails the query."""
    import json

    import pandas as pd

    from maxx_spark.streaming.resolver import RESOLVE_STATE, _resolve_fn

    wm = 1_704_067_200_000
    state = _fresh_group_state(RESOLVE_STATE, wm)
    pdf = pd.DataFrame(
        {"side": ["def"], "unit_path": ["Base"], "kind": ["class"],
         "warc_ts": pd.Series([pd.NaT], dtype="datetime64[ns]")}
    )
    assert list(_resolve_fn(("h", "Base"), iter([pdf]), state)) == []
    assert tuple(state.get) == ("class", [], 0)
    assert json.loads(state.json())["timeoutTimestamp"] == wm + 600_000


def test_assembler_null_event_time_arms_timer_past_watermark():
    """Class-folder assembly: same rule as the resolver for a null warc_ts
    member row (clock unmoved, session-gap timer from the watermark)."""
    import json

    import pandas as pd

    from maxx_spark.streaming.resolver import ASSEMBLE_STATE, _assemble_fn

    wm = 1_704_067_200_000
    state = _fresh_group_state(ASSEMBLE_STATE, wm)
    pdf = pd.DataFrame(
        {"stem": ["Ledger"], "kind": ["class"],
         "warc_ts": pd.Series([pd.NaT], dtype="datetime64[ns]")}
    )
    assert list(_assemble_fn(("h", "Ledger"), iter([pdf]), state)) == []
    assert tuple(state.get) == (["Ledger"], True, 0)
    assert json.loads(state.json())["timeoutTimestamp"] == wm + 120_000


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Streaming CEP funnel (streaming/cep.py): events arriving in REVERSE
    step order across micro-batches (purchases first, views last) are
    buffered in state and replayed in (ts, event_id) order once the
    watermark passes them — the emitted (user, step) set equals the batch
    mirror q64 (operators/windows.event_funnel) on the same input,
    including the strict-order edge cases (click-before-view stalls,
    same-ts click rejected)."""
    from maxx_spark.operators.windows import event_funnel
    from maxx_spark.streaming.cep import funnel_stream
    import time as _time

    t0 = dt.datetime(2024, 8, 1, 9, 0, 0)
    t = lambda m: t0 + dt.timedelta(minutes=m)
    ev = [  # (event_id, ts, user_id, event_type) — q64's unit-test corpus
        (0, t(0), 1, "view"), (1, t(1), 1, "click"), (2, t(2), 1, "purchase"),
        (3, t(0), 2, "click"), (4, t(1), 2, "view"), (5, t(2), 2, "purchase"),
        (6, t(0), 3, "view"), (7, t(1), 3, "purchase"),
        (8, t(0), 4, "click"), (9, t(1), 4, "purchase"),
        (10, t(0), 5, "view"), (11, t(0), 5, "click"),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    rows = [(i, ts, u, et, 1.0, "{}") for i, ts, u, et in ev]
    # adversarial arrival: purchases, then clicks, then views; heartbeats
    # (non-step 'noop' events) advance the watermark, then provide the real
    # batch in which the ripeness timers fire and finalize the buffers
    batches = [
        [r for r in rows if r[3] == "purchase"],
        [r for r in rows if r[3] == "click"],
        [r for r in rows if r[3] == "view"],
        [(100, t0 + dt.timedelta(hours=1), 99, "noop", 1.0, "{}")],
        [(101, t0 + dt.timedelta(hours=2), 99, "noop", 1.0, "{}")],
    ]
    src = str(tmp_path / "funnel_events")
    for k, b in enumerate(batches):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + 60 * k, now + 60 * k))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    # delay must cover the arrival disorder (standard watermark contract —
    # with a 1-minute delay the views would arrive already LATE and Spark
    # itself drops them before the stateful operator, same as E2)
    out = funnel_stream(stream, delay="10 minutes", deadline="2 hours")
    run_to_memory(out, "funnel_t", str(tmp_path / "ck_funnel"))
    got = spark.sql("select * from funnel_t").collect()

    per_step = {i: sorted(r["user_id"] for r in got if r["step_idx"] == i) for i in range(3)}
    assert per_step == {0: [1, 2, 3, 5], 1: [1], 2: [1]}
    # first-touch times match the batch semantics (u2 enters at its VIEW)
    times = {(r["user_id"], r["step_idx"]): r["step_ts_ms"] for r in got}
    ms = lambda m: int(t(m).replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert times[(2, 0)] == ms(1) and times[(1, 2)] == ms(2)
    # parity with the batch mirror on the same events (noop rows included —
    # both engines ignore non-step types)
    batch = event_funnel(spark.createDataFrame([r for b in batches for r in b], schema))
    batch_n = {r["step_idx"]: r["n_users"] for r in batch.collect()}
    assert batch_n == {i: len(per_step[i]) for i in range(3)}


def test_streaming_session_paths_match_batch(spark, tmp_path):
    """Streaming session assembly (streaming/cep.py): gap-based sessions
    close either on an in-order event beyond the gap or on the WATERMARK
    passing the gap horizon (event-time timer flush — idle sessions emit
    without more traffic). Out-of-order arrival within the delay replays
    in (ts, event_id) order; per-path session counts equal the q66 batch
    mirror."""
    from maxx_spark.operators.windows import session_event_paths
    from maxx_spark.streaming.cep import session_paths_stream
    import time as _time

    t0 = dt.datetime(2024, 8, 2, 12, 0, 0)
    t = lambda m: t0 + dt.timedelta(minutes=m)
    ev = [  # q66's unit-test corpus (sessions split by the 30-min gap)
        (0, t(0), 1, "view"), (1, t(1), 1, "click"), (2, t(2), 1, "purchase"), (3, t(70), 1, "view"),
        (4, t(0), 2, "view"), (5, t(29), 2, "click"), (6, t(90), 2, "view"),
        *[(7 + i, t(i), 3, "view") for i in range(10)],
        (17, t(0), 4, "click"), (18, t(0), 4, "view"),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    rows = [(i, ts, u, et, 1.0, "{}") for i, ts, u, et in ev]
    batches = [
        rows[1::2],  # odd-index events first: out-of-order within the delay
        rows[0::2],
        [(100, t0 + dt.timedelta(hours=3), 99, "noop", 1.0, "{}")],
        [(101, t0 + dt.timedelta(hours=6), 99, "noop", 1.0, "{}")],
    ]
    src = str(tmp_path / "sess_events")
    for k, b in enumerate(batches):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + 60 * k, now + 60 * k))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    out = session_paths_stream(stream, delay="2 hours")
    run_to_memory(out, "sess_t", str(tmp_path / "ck_sess"))
    got = spark.sql("select * from sess_t").collect()

    # the heartbeat user's LAST session can never finalize (the watermark
    # ends below it) — exclude user 99 from both sides of the parity check
    stream_counts = {}
    for r in got:
        if r["user_id"] != 99:
            stream_counts[r["path"]] = stream_counts.get(r["path"], 0) + 1
    batch = session_event_paths(
        spark.createDataFrame([r for b in batches for r in b if r[2] != 99], schema), top=100
    ).collect()
    batch_counts = {r["path"]: r["n_sessions"] for r in batch}
    assert stream_counts == batch_counts, (stream_counts, batch_counts)
    # session metadata: u1's first session starts at t0 and holds 3 events
    first_u1 = min((r for r in got if r["user_id"] == 1), key=lambda r: r["session_start_ms"])
    assert first_u1["path"] == "view>click>purchase" and first_u1["n_events"] == 3


def test_streaming_funnel_resumes_from_checkpoint(spark, tmp_path):
    """CEP state survives a restart: run A finalizes the user's first step
    and stops; run B (same checkpoint, new files) must resume the restored
    state + watermark + timers and emit ONLY the remaining steps — the
    union of both runs' emissions equals the batch mirror over all events,
    with no duplicate and no lost (user, step) row."""
    from maxx_spark.operators.windows import event_funnel
    from maxx_spark.streaming.cep import funnel_stream
    import time as _time

    t0 = dt.datetime(2024, 9, 1, 0, 0, 0)
    h = lambda x: t0 + dt.timedelta(hours=x)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "resume_events")
    ckpt = str(tmp_path / "ck_resume")

    def _write(rows, off):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + off, now + off))

    out_dir = str(tmp_path / "resume_out")

    def _run_leg():
        # memory sink cannot recover from a checkpoint; foreachBatch append
        # to parquet is the recoverable pattern (same as the E9 sink)
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        q = (
            funnel_stream(stream, delay="10 minutes", deadline="100 hours")
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.read.parquet(out_dir) if glob.glob(f"{out_dir}/*.parquet") else None
        return sorted(
            (r["user_id"], r["step_idx"], r["step"]) for r in (got.collect() if got else [])
        )

    # run A: the view + two heartbeats (watermark advance + timer batch)
    _write([(0, h(0), 1, "view", 1.0, "{}")], 0)
    _write([(100, h(1), 99, "noop", 1.0, "{}")], 60)
    _write([(101, h(2), 99, "noop", 1.0, "{}")], 120)
    got_a = _run_leg()
    assert got_a == [(1, 0, "view")]  # step 0 finalized before the stop

    # run B: click + purchase arrive AFTER the persisted watermark (t0+2h
    # - 10min); the restored state must chain them onto the restored step 0
    _write([(1, h(3), 1, "click", 1.0, "{}")], 180)
    _write([(2, h(3) + dt.timedelta(minutes=1), 1, "purchase", 1.0, "{}")], 240)
    _write([(102, h(5), 99, "noop", 1.0, "{}")], 300)
    _write([(103, h(6), 99, "noop", 1.0, "{}")], 360)
    got_all = _run_leg()  # cumulative: run A rows + run B emissions
    assert got_all == [(1, 0, "view"), (1, 1, "click"), (1, 2, "purchase")]

    # cumulative emissions == batch mirror over the full event set
    all_events = spark.read.schema(schema).parquet(src)
    batch_n = {r["step_idx"]: r["n_users"] for r in event_funnel(all_events).collect()}
    assert batch_n == {i: sum(1 for u in got_all if u[1] == i) for i in range(3)}


def test_streaming_session_paths_resumes_from_checkpoint(spark, tmp_path):
    """An OPEN session survives a restart: run A finalizes the user's first
    two events into the open session (3 h gap, so it stays open) and stops;
    run B (same checkpoint, new files) chains a third event onto the
    restored session and the watermark then closes it. The session is
    emitted exactly once, in run B, whole."""
    from maxx_spark.streaming.cep import session_paths_stream
    import time as _time

    t0 = dt.datetime(2024, 9, 2, 0, 0, 0)
    h = lambda x: t0 + dt.timedelta(hours=x)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "resume_sess_events")
    ckpt = str(tmp_path / "ck_resume_sess")
    out_dir = str(tmp_path / "resume_sess_out")

    def _write(rows, off):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        now = _time.time()
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + off, now + off))

    def _run_leg():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        q = (
            session_paths_stream(stream, gap_seconds=3 * 3600, delay="10 minutes")
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.read.parquet(out_dir).collect() if glob.glob(f"{out_dir}/*.parquet") else []
        return sorted(
            (r["session_start_ms"], r["path"], r["n_events"]) for r in got if r["user_id"] == 1
        )

    # run A: view + click, then two heartbeats (watermark advance + timer
    # batch) finalize both into user 1's open session
    _write([(0, h(0), 1, "view", 1.0, "{}"),
            (1, h(0) + dt.timedelta(minutes=1), 1, "click", 1.0, "{}")], 0)
    _write([(100, h(1), 99, "noop", 1.0, "{}")], 60)
    _write([(101, h(2), 99, "noop", 1.0, "{}")], 120)
    assert _run_leg() == []  # the session is still open at the stop

    # run B: the purchase lands inside the gap of the restored session;
    # two late heartbeats push the watermark past its gap horizon
    _write([(2, h(3), 1, "purchase", 1.0, "{}")], 180)
    _write([(102, h(8), 99, "noop", 1.0, "{}")], 240)
    _write([(103, h(9), 99, "noop", 1.0, "{}")], 300)
    start_ms = int(h(0).replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert _run_leg() == [(start_ms, "view>click>purchase", 3)]


def test_cep_checkpoint_keeps_its_state_partitions(spark, tmp_path):
    """A stateful checkpoint keeps the state partition count it was created
    with (``session.get_spark`` sizes new ones to the cores): the funnel
    starts at 8 partitions and commits one batch, then resumes in the test
    session at its 4 cores with more files. Every batch of both runs keeps 8
    state partitions and 8 state store instances, and the emitted (user,
    step) rows equal the batch mirror over all events."""
    from maxx_spark.operators.windows import event_funnel
    from maxx_spark.streaming.cep import funnel_stream

    t0 = dt.datetime(2024, 9, 3, 0, 0, 0)
    m = lambda x: t0 + dt.timedelta(minutes=x)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "parts_events")
    ckpt = str(tmp_path / "ck_parts")
    out_dir = str(tmp_path / "parts_out")
    key = "spark.sql.shuffle.partitions"

    def _run_leg():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        q = (
            funnel_stream(stream, delay="10 minutes", deadline="100 hours")
            .writeStream.foreachBatch(lambda df, bid: df.write.mode("append").parquet(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert q.exception() is None
        return q

    _staged_files(spark, src, [
        [(0, m(0), 1, "view", 1.0, "{}"), (1, m(1), 2, "view", 1.0, "{}"),
         (2, m(2), 1, "click", 1.0, "{}")],
    ], schema)
    session_n = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        first = _run_leg().recentProgress
    finally:
        spark.conf.set(key, session_n)
    assert session_n == "4" and [p.batchId for p in first if p.numInputRows] == [0]

    _staged_files(spark, src, [
        [(3, m(3), 2, "click", 1.0, "{}"), (4, m(4), 1, "purchase", 1.0, "{}")],
        [(100, m(60), 99, "noop", 1.0, "{}")],
        [(101, m(120), 99, "noop", 1.0, "{}")],
    ], schema)
    listener, q = _with_listener(spark, _run_leg)
    second = q.recentProgress
    assert len([p for p in second if p.numInputRows]) == 3
    ops = [o for p in first + second for o in p.stateOperators]
    assert len(ops) == len(first) + len(second)
    assert {(o.numShufflePartitions, o.numStateStoreInstances) for o in ops} == {(8, 8)}
    # the ledger reports the same count, and the timeout pass's time
    detail = listener.summary(q)["detail"]
    assert [b["state_partitions"] for b in detail] == [8, 8, 8]
    assert all(isinstance(b["state_removals_ms"], int) and b["state_removals_ms"] >= 0
               for b in detail)

    got = sorted((r["user_id"], r["step_idx"]) for r in spark.read.parquet(out_dir).collect())
    assert got == [(1, 0), (1, 1), (1, 2), (2, 0), (2, 1)]
    batch_n = {r["step_idx"]: r["n_users"]
               for r in event_funnel(spark.read.schema(schema).parquet(src)).collect()}
    assert batch_n == {i: sum(1 for u in got if u[1] == i) for i in range(3)}


def test_ledger_row_state_partitions_and_removals():
    """``_ledger_row`` reports the largest state partition count over the
    stateful operators and their summed removal time; 0 and 0 without one."""
    from types import SimpleNamespace

    from maxx_spark.streaming.metrics import _ledger_row

    def op(parts, removals_ms):
        return SimpleNamespace(numRowsTotal=1, memoryUsedBytes=1, numRowsDroppedByWatermark=0,
                               numShufflePartitions=parts, allRemovalsTimeMs=removals_ms)

    def progress(ops):
        return SimpleNamespace(runId="r", batchId=0, numInputRows=1, durationMs={},
                               processedRowsPerSecond=1.0, stateOperators=ops, eventTime={})

    row = _ledger_row(progress([op(8, 5), op(4, 7)]))
    assert (row["state_partitions"], row["state_removals_ms"]) == (8, 12)
    row = _ledger_row(progress([]))
    assert (row["state_partitions"], row["state_removals_ms"]) == (0, 0)


def _staged_files(spark, src, batches, schema):
    """Append one parquet file per batch, with strictly increasing mtimes
    (the file source orders a trigger's files by modification time)."""
    import time as _time

    now = _time.time()
    for k, rows in enumerate(batches):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (now + 60 * k, now + 60 * k))


def _with_listener(spark, run):
    from maxx_spark.streaming.metrics import ThroughputListener

    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        return listener, run()
    finally:
        spark.streams.removeListener(listener)


def test_throughput_summary_includes_last_batch(spark, tmp_path):
    """Right after awaitTermination() the last batch's progress event may
    not have been delivered; summary(query) reads the query's own
    progress, so all three one-file batches are there. With the query
    keeping only its last two progress entries, the first batch comes from
    the listener's events."""
    schema = "id long, ts timestamp"
    src = str(tmp_path / "three")
    t0 = dt.datetime(2024, 1, 1)
    _staged_files(spark, src, [[(k, t0)] for k in range(3)], schema)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    retention = "spark.sql.streaming.numRecentProgressUpdates"
    spark.conf.set(retention, "2")
    try:
        listener, q = _with_listener(
            spark, lambda: run_to_memory(stream, "three_t", str(tmp_path / "ck_three"))
        )
    finally:
        spark.conf.unset(retention)
    assert 0 not in [p.batchId for p in q.recentProgress]
    s = listener.summary(q)
    assert s["batches"] == 3 and s["input_rows"] == 3
    assert [b["batch_id"] for b in s["detail"]] == [0, 1, 2]


def test_throughput_summary_reports_state(spark, tmp_path):
    """The per-batch ledger carries the state operators' rows and memory,
    late drops and the watermark: the funnel buffers the first batch's
    events in state until a heartbeat moves the watermark past them."""
    from maxx_spark.streaming.cep import funnel_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "funnel_state")
    t0 = dt.datetime(2024, 8, 1, 9, 0, 0)
    _staged_files(spark, src, [
        [(0, t0, 1, "view", 1.0, "{}"), (1, t0 + dt.timedelta(minutes=1), 2, "view", 1.0, "{}")],
        [(2, t0 + dt.timedelta(hours=3), 99, "noop", 1.0, "{}")],
    ], schema)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    out = funnel_stream(stream, delay="10 minutes", deadline="1 hour")
    listener, q = _with_listener(
        spark, lambda: run_to_memory(out, "funnel_state_t", str(tmp_path / "ck_fs"))
    )
    detail = listener.summary(q)["detail"]
    assert len(detail) == 2
    first = detail[0]
    assert first["state_rows_total"] > 0 and first["state_memory_bytes"] > 0
    assert first["rows_dropped_by_watermark"] == 0
    assert detail[1]["watermark"] > first["watermark"]


def test_local_session_lists_batch_files_on_driver(spark, tmp_path):
    """On a local master a micro-batch's files are listed on the driver
    (``session.get_spark``): one trigger over 40 one-page files, more than
    Spark's default parallel-listing threshold of 32 paths, runs exactly one
    Spark job per committed batch in the query's job group, the sink's data
    write. With Spark's default the group also holds a listing job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maxx_spark.gen import generate_pages_rows

    rows = generate_pages_rows(n_projects=1, n_filler=40, seed=7)[:40]
    assert len(rows) == 40
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    src = tmp_path / "pages40"
    src.mkdir()
    for i, (url, ts, html, text, lang) in enumerate(rows):
        table = pa.table({"url": [url], "warc_ts": [ts.replace(tzinfo=dt.timezone.utc)],
                          "html": [html], "text": [text], "lang": [lang]}, schema=schema)
        pq.write_table(table, str(src / f"page-{i:03d}.parquet"))

    q, sink = extraction_query(spark, str(src), str(tmp_path / "out40"),
                               str(tmp_path / "ck40"), max_files_per_trigger=None,
                               available_now=True)
    q.awaitTermination(300)
    assert q.exception() is None
    assert len(sink.committed_batches()) == 1
    assert sink.read_committed(spark).select("url").distinct().count() > 0
    sc = spark.sparkContext
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(q.runId)) == 1
