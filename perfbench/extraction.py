"""Extraction path: pages -> ``extraction_query`` -> exactly-once sink.

- ``backlog``: a pre-staged backlog drained with ``available_now=True``
  (parse-bound; a few large micro-batches).
- ``live``: an open loop. Small files arrive on a fixed schedule while the
  query runs with its processing-time trigger (small batches, so per-batch
  fixed cost dominates). A file's latency runs from its due time to the
  commit of the micro-batch that held it.
- ``check``: the committed rows of both sinks against batch
  ``extract_code_units`` over the same files (count + all-column hash),
  outside every clock.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np
import pandas as pd

from perfbench import streams
from perfbench.inputs import page_rows, page_traffic, stage_pages, write_pages

BACKLOG_FILES = 8
BACKLOG_MAX_FILES_PER_TRIGGER = 4
LIVE_PAGES_PER_FILE = 1
LIVE_FILES_PER_S = 25  # offered 25 pages/s: a 2 s trigger's ~50 files take ~1 s
LIVE_WARM_S = 1.0  # files due in the first second (the first batch) are not timed
LIVE_FIRST_PAGE = 10_000_000  # live page indices are disjoint from the backlog's
DRAIN_TIMEOUT_S = 60


def _commit_times(out: str) -> dict[int, float]:
    """Micro-batch id -> commit time, from the sink's commit markers."""
    times = {}
    for p in glob.glob(os.path.join(out, "_commits", "*.json")):
        with open(p) as f:
            times[int(os.path.basename(p)[:-5])] = json.load(f)["ts"]
    return times


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the checkpoint's source log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(p).split(".")[0].isdigit():
            continue  # N and N.compact hold entries; skip temp files
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _sink_batches(out: str) -> list[dict]:
    """Commit marker of every committed batch plus its data files/bytes."""
    stats = []
    for p in glob.glob(os.path.join(out, "_commits", "*.json")):
        with open(p) as f:
            m = json.load(f)
        m["batch_id"] = b = int(os.path.basename(p)[:-5])
        files = glob.glob(os.path.join(out, "data", f"batch_id={b}", "part-*"))
        m["files"] = len(files)
        m["bytes"] = sum(os.path.getsize(x) for x in files)
        stats.append(m)
    return sorted(stats, key=lambda m: m["batch_id"])


def _trace_batches(tracer, name: str, progress: list[dict], sink: list[dict]) -> None:
    """Micro-batch spans (with their progress phases) and the sink commit
    span of each batch, under the current span."""
    if not tracer.enabled:
        return
    commits = {m["batch_id"]: m for m in sink}
    for p in progress:
        start = streams.start_epoch(p)
        sid = tracer.add_wall(f"{name}.batch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                              batch_id=p["batchId"], rows=p["numInputRows"],
                              **{f"{k}_ms": v for k, v in p["durationMs"].items()})
        m = commits.get(p["batchId"])
        if m is not None:
            tracer.add_wall(f"{name}.sink_commit", m["ts"] - m["wall_s"], m["ts"], parent=sid,
                            data_s=m["data_s"], lineage_s=m["lineage_s"], dlq_s=m["dlq_s"])


def backlog(spark, work: str, seed: int, per_file: int, skew: bool, tracer) -> dict:
    from maxx_spark.streaming.pipeline import extraction_query

    src, out, ckpt = (os.path.join(work, d) for d in ("backlog_src", "backlog_out", "backlog_ckpt"))
    files, rows = stage_pages(src, seed, BACKLOG_FILES, per_file, skew)
    with tracer.span("extract_backlog"):
        t0 = time.time()
        q, _ = extraction_query(spark, src, out, ckpt,
                                max_files_per_trigger=BACKLOG_MAX_FILES_PER_TRIGGER,
                                available_now=True)
        q.awaitTermination(DRAIN_TIMEOUT_S)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"backlog not drained in {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(f"backlog query failed: {q.exception()}")
        commits = _commit_times(out)
        batches = _file_batches(ckpt)
        if any(batches.get(os.path.basename(f)) not in commits for f in files):
            raise RuntimeError("backlog query ended with uncommitted files")
        progress = streams.progress(q, len(commits))
        sink = _sink_batches(out)
        _trace_batches(tracer, "extract_backlog", progress, sink)
    return {
        "files": files,
        "out": out,
        "pages_per_s": len(rows) / (max(commits.values()) - t0),
        "progress": progress,
        "sink": sink,
        "rows": rows,
        "traffic": {**page_traffic(rows), "files": len(files),
                    "max_files_per_trigger": BACKLOG_MAX_FILES_PER_TRIGGER},
    }


def live(spark, work: str, seed: int, measure_s: float, skew: bool, tracer) -> dict:
    """Open loop: file k is due at t0 + k / LIVE_FILES_PER_S. All files are
    written up front into a side directory; a generator thread stamps each
    file's mtime and renames it into the source directory at its due time,
    so the schedule does not depend on staging speed."""
    from maxx_spark.streaming.pipeline import extraction_query

    src, side, out, ckpt = (os.path.join(work, d) for d in
                            ("live_src", "live_side", "live_out", "live_ckpt"))
    os.makedirs(src)
    os.makedirs(side)
    n_files = int((LIVE_WARM_S + measure_s) * LIVE_FILES_PER_S)
    names, rows = [], []
    for k in range(n_files):
        name = f"live-{k:05d}.parquet"
        part = page_rows(seed, LIVE_FIRST_PAGE + k * LIVE_PAGES_PER_FILE, LIVE_PAGES_PER_FILE, skew)
        write_pages(os.path.join(side, name), part)
        names.append(name)
        rows += part

    due: dict[str, float] = {}
    late: list[float] = []
    errors: list[BaseException] = []

    def generate(t0: float) -> None:
        try:
            for k, name in enumerate(names):
                t_due = t0 + k / LIVE_FILES_PER_S
                pause = t_due - time.time()
                if pause > 0:
                    time.sleep(pause)
                now = time.time()
                os.utime(os.path.join(side, name), (now, now))
                os.rename(os.path.join(side, name), os.path.join(src, name))
                due[name] = t_due
                late.append(time.time() - t_due)
        except BaseException as ex:  # reported by the caller after join
            errors.append(ex)

    with tracer.span("extract_live"):
        q, _ = extraction_query(spark, src, out, ckpt, max_files_per_trigger=None,
                                available_now=False)
        try:
            gen = threading.Thread(target=generate, args=(time.time() + 0.2,), daemon=True)
            gen.start()
            gen.join(n_files / LIVE_FILES_PER_S + DRAIN_TIMEOUT_S)
            if gen.is_alive() or errors:
                raise RuntimeError(f"live generator failed: {errors or 'timeout'}")
            commits, batches = _commit_times(out), _file_batches(ckpt)
            backlog_files_end = sum(batches.get(n) not in commits for n in names)
            # drain: every file lands in a committed batch that has
            # reported its progress
            deadline = time.time() + DRAIN_TIMEOUT_S
            while not (all(batches.get(n) in commits for n in names)
                       and streams.reported(q) >= len(commits)):
                if time.time() > deadline or q.exception() is not None:
                    raise RuntimeError(f"live query did not drain: {q.exception()}")
                time.sleep(0.05)
                commits, batches = _commit_times(out), _file_batches(ckpt)
        finally:
            q.stop()
        progress = streams.progress(q, len(commits))
        sink = _sink_batches(out)
        _trace_batches(tracer, "extract_live", progress, sink)
    timed = names[int(LIVE_WARM_S * LIVE_FILES_PER_S):]
    lat_ms = np.array([(commits[batches[n]] - due[n]) * 1000.0 for n in timed])
    return {
        "out": out,
        "rows": rows,
        "timed_files": len(timed),
        "latency_p50_ms": float(np.percentile(lat_ms, 50)),
        "latency_p95_ms": float(np.percentile(lat_ms, 95)),
        "gen_late_ms_max": max(late) * 1000.0,
        "backlog_files_end": backlog_files_end,
        "progress": progress,
        "sink": sink,
        "traffic": {**page_traffic(rows), "files": n_files,
                    "offered_pages_per_s": LIVE_FILES_PER_S * LIVE_PAGES_PER_FILE,
                    "trigger": "processingTime 2 s"},
    }


def _fold(df) -> dict[bool, tuple[int, int, int]]:
    """Per path (live or not): row count, order-insensitive hash over every
    column, and error rows."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    page = F.regexp_extract("url", r"[x_](\d+)(?:\.m)?$", 1).cast("long")
    rows = df.groupBy((page >= LIVE_FIRST_PAGE).alias("live")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count("error").alias("e"),
    ).collect()
    return {r["live"]: (int(r["n"]), r["h"], int(r["e"])) for r in rows}


def corrupt(run: dict) -> None:
    """Self-test hook: delete one committed data file of a sink."""
    victim = sorted(glob.glob(os.path.join(run["out"], "data", "batch_id=*", "part-*")))[0]
    os.remove(victim)


def check(spark, backlog_run: dict, live_run: dict) -> tuple[dict[str, list[str]], dict]:
    """Compare the committed rows of both sinks with one batch
    re-extraction of all their input pages. Returns the failures of each
    path (empty when correct) and the reference's row counts."""
    import pyarrow.parquet as pq

    from maxx_spark.extract import extract_code_units
    from maxx_spark.schema import CODE_UNITS, PAGES
    from maxx_spark.streaming.sink import ExactlyOnceParquetSink

    runs = {"extract_backlog": backlog_run, "extract_live": live_run}
    # the staged rows themselves: re-reading hundreds of one-page files
    # would cost more than the extraction, and pack unevenly
    rows = [p for r in runs.values() for p in r["rows"]]
    pages = spark.createDataFrame(pd.DataFrame(rows, columns=PAGES.fieldNames()), PAGES)
    want = _fold(extract_code_units(pages))
    committed = [ExactlyOnceParquetSink(r["out"]).read_committed(spark).select(*CODE_UNITS.fieldNames())
                 for r in runs.values()]
    got = _fold(committed[0].unionByName(committed[1]))
    failures: dict[str, list[str]] = {}
    for live, (name, r) in enumerate(runs.items()):
        bad = failures[name] = []
        (want_n, want_h, errors), (got_n, got_h, _) = want[bool(live)], got.get(bool(live), (0, 0, 0))
        if (got_n, got_h) != (want_n, want_h):
            bad.append(f"committed ({got_n} rows, hash {got_h}) != "
                       f"reference ({want_n} rows, hash {want_h})")
        # dead-letter path: every error row is also routed to errors/
        dlq = sum(pq.read_metadata(p).num_rows
                  for p in glob.glob(os.path.join(r["out"], "errors", "batch_id=*", "*.parquet")))
        if errors == 0 or dlq != errors:
            bad.append(f"{errors} error rows but {dlq} dead-letter rows")
    return failures, {"rows": sum(w[0] for w in want.values()),
                      "error_rows": sum(w[2] for w in want.values())}
