"""CEP path: a seeded out-of-order event stream drained through
``funnel_stream`` and then ``session_paths_stream`` (each availableNow to
a memory sink), checked against the batch mirrors ``windows.event_funnel``
and ``windows.session_event_paths``.

Two micro-batches per operator: every data file plus a far-future
heartbeat event, then the no-data batch Spark runs for the watermark the
heartbeat raised, in which every buffered event and open session
finalizes."""

from __future__ import annotations

import os
import time

from perfbench import streams
from perfbench.inputs import HEARTBEAT_USER, event_table, stage_events

SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string"
SPAN_S = 2 * 3600
JITTER_S = 600  # arrival disorder, below the 30-minute watermark delay
DELAY = "30 minutes"
DEADLINE = "6 hours"  # beyond the span: no funnel expires before the heartbeat
GAP_S = 900
DATA_FILES = 2
MAX_FILES_PER_TRIGGER = DATA_FILES + 1
DRAIN_TIMEOUT_S = 60


def _trace(tracer, name: str, progress: list[dict]) -> None:
    if not tracer.enabled:
        return
    for p in progress:
        start = streams.start_epoch(p)
        state = p.get("stateOperators") or [{}]
        tracer.add_wall(f"cep.{name}.batch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                        batch_id=p["batchId"], rows=p["numInputRows"],
                        state_rows=state[0].get("numRowsTotal"),
                        **{f"{k}_ms": v for k, v in p["durationMs"].items()})


def _drain(spark, src: str, name: str, build, ckpt: str, tracer) -> dict:
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER)).parquet(src)
    table = f"perfbench_{name}"
    with tracer.span(f"cep.{name}"):
        t0 = time.perf_counter()
        q = (build(stream).writeStream.format("memory").queryName(table)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(DRAIN_TIMEOUT_S)
        seconds = time.perf_counter() - t0
        if q.isActive:
            q.stop()
            raise TimeoutError(f"cep.{name} not drained in {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(f"cep.{name} query failed: {q.exception()}")
        progress = streams.progress(q, 1, no_data=True)
        _trace(tracer, name, progress)
    return {
        "seconds": seconds,
        "events": sum(p["numInputRows"] for p in progress),
        "progress": progress,
        "rows": spark.sql(f"select * from {table}").toPandas(),
    }


def run(spark, work: str, seed: int, n_events: int, n_users: int, skew: bool, tracer) -> dict:
    from maxx_spark.streaming.cep import funnel_stream, session_paths_stream

    src = os.path.join(work, "events")
    table = event_table(seed, n_events, n_users, SPAN_S, JITTER_S, skew)
    stage_events(src, table, DATA_FILES, SPAN_S)
    funnel = _drain(spark, src, "funnel",
                    lambda s: funnel_stream(s, delay=DELAY, deadline=DEADLINE),
                    os.path.join(work, "ck_funnel"), tracer)
    paths = _drain(spark, src, "paths",
                   lambda s: session_paths_stream(s, gap_seconds=GAP_S, delay=DELAY),
                   os.path.join(work, "ck_paths"), tracer)
    return {
        "src": src,
        "funnel": funnel,
        "paths": paths,
        "events_per_s": (funnel["events"] + paths["events"]) / (funnel["seconds"] + paths["seconds"]),
        "traffic": {"events": n_events, "users": n_users, "span_s": SPAN_S,
                    "jitter_s": JITTER_S, "files": DATA_FILES + 1,
                    "max_files_per_trigger": MAX_FILES_PER_TRIGGER},
    }


def corrupt(r: dict) -> None:
    """Self-test hook: lose one emitted funnel step and one session path."""
    f, p = r["funnel"]["rows"], r["paths"]["rows"]
    r["funnel"]["rows"] = f.iloc[1:]
    r["paths"]["rows"] = p.drop(p.index[p["user_id"] != HEARTBEAT_USER][0])


def check(spark, r: dict) -> list[str]:
    """Stream results against the batch mirrors over the same events."""
    from pyspark.sql import functions as F

    from maxx_spark.operators.windows import event_funnel, session_event_paths

    failures = []
    events = spark.read.schema(SCHEMA).parquet(r["src"])
    for name in ("funnel", "paths"):
        dropped = sum(so.get("numRowsDroppedByWatermark", 0)
                      for p in r[name]["progress"] for so in p.get("stateOperators", []))
        if dropped:
            failures.append(f"cep.{name}: {dropped} rows dropped by the watermark")
    f = r["funnel"]["rows"]
    got = f.groupby("step_idx")["user_id"].nunique().to_dict()
    if len(f) != sum(got.values()):
        failures.append("cep.funnel: a (user, step) pair was emitted twice")
    want = {int(x["step_idx"]): int(x["n_users"]) for x in event_funnel(events).collect()}
    want = {k: v for k, v in want.items() if v}
    if got != want:
        failures.append(f"cep.funnel: per-step users {got} != batch mirror {want}")
    p = r["paths"]["rows"]
    got = p[p["user_id"] != HEARTBEAT_USER].groupby("path").size().to_dict()
    real = events.where(F.col("user_id") != HEARTBEAT_USER)
    want = {x["path"]: int(x["n_sessions"])
            for x in session_event_paths(real, gap_seconds=GAP_S, top=1_000_000).collect()}
    if got != want:
        failures.append(f"cep.paths: {len(got)} paths differ from the batch mirror's {len(want)}")
    return failures
