"""Throughput bench for the streaming CEP operators (streaming/cep.py):
funnel_stream and session_paths_stream over a synthetic out-of-order event
stream, availableNow to a memory sink.

Workload: N events (default 2M) over U users, timestamps uniform in a
6-hour span, 4 event types. Files are range-sharded by ARRIVAL time =
event time ± 10 min of jitter, so micro-batches progress through the span
like a real stream while every batch carries out-of-order rows the state
machines must buffer and replay; jitter < the 30-min watermark delay, so
no event is late-dropped — the machines process the full stream. Reports
events/s per operator plus peak state rows from the query progress.
Writes BENCH/cep_throughput_r6.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def stage(spark, src: str, n_events: int, n_users: int, n_files: int,
          skew: bool = False) -> None:
    from pyspark.sql import functions as F

    uid = F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_users))
    if skew:
        # mega-user: ~30% of ALL events belong to user 0 (a bot) — the
        # north rule's mega-host shape pointed at the stateful CEP ops
        uid = F.when(F.pmod(F.xxhash64("id", F.lit(5)), F.lit(10)) < 3, F.lit(0)).otherwise(uid)
    df = (
        spark.range(n_events)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                F.lit(1722500000) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(21600))
            ).alias("ts"),
            uid.alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase"), F.lit("noop")),
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(4)) + 1).cast("int"),
            ).alias("event_type"),
        )
        # arrival order = event time + bounded jitter (±10 min): files are
        # range-sharded by ARRIVAL, so micro-batches progress through the
        # 6 h span like a real stream while every batch still carries
        # out-of-order rows the state machines must buffer and replay
        # (jitter < delay ⇒ no late drops — every event is processed)
        .withColumn(
            "arrival",
            F.col("ts").cast("long")
            + F.pmod(F.xxhash64("event_id", F.lit(4)), F.lit(1200))
            - F.lit(600),
        )
        .repartitionByRange(n_files, "arrival")
        .drop("arrival")
    )
    df.write.mode("overwrite").parquet(src)
    # pin the micro-batch order: parallel write tasks finish in a
    # nondeterministic order, and FileStreamSource batches by mtime — a
    # different file order shifts the watermark progression and the
    # late-drop set, swinging rows_out ~20% run-to-run. part-file names
    # carry the range-partition (arrival) order, so stamp mtimes to match.
    import glob as _glob
    import time as _time

    now = _time.time()
    for k, f in enumerate(sorted(_glob.glob(os.path.join(src, "part-*")))):
        os.utime(f, (now + k, now + k))


SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string"


def run_op(spark, src: str, name: str, build, ckpt: str) -> dict:
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "4").parquet(src)
    )
    out = build(stream)
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1800)
    dt = time.perf_counter() - t0
    # recentProgress is capped at the last 100 entries — assert we are under
    # the cap so events_in cannot silently undercount (r6 advisory)
    assert len(q.recentProgress) < 100, "recentProgress cap hit; use a listener"
    n_in = sum(p["numInputRows"] for p in q.recentProgress)
    peak_state = max(
        (so["numRowsTotal"] for p in q.recentProgress for so in p.get("stateOperators", [])),
        default=0,
    )
    n_out = spark.sql(f"select count(*) c from {name}").first()["c"]
    return {
        "sec": round(dt, 2),
        "events_in": n_in,
        "rows_out": n_out,
        "events_per_sec": round(n_in / dt, 1),
        "peak_state_rows": peak_state,
        "batches": len(q.recentProgress),
    }


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--users", type=int, default=50_000)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--skew", action="store_true")
    ap.add_argument("--out", default="cep_throughput_r6.json")
    args = ap.parse_args()

    from maxx_spark.session import get_spark
    from maxx_spark.streaming.cep import funnel_stream, session_paths_stream

    spark = get_spark("cep-bench", master=f"local[{len(os.sched_getaffinity(0))}]")
    src = "/tmp/maxx_cep_events"
    stage(spark, src, args.events, args.users, args.files, skew=args.skew)

    import shutil

    for d in ("/tmp/maxx_cep_ck1", "/tmp/maxx_cep_ck2"):
        shutil.rmtree(d, ignore_errors=True)

    funnel = run_op(
        spark, src, "cep_funnel_b",
        lambda s: funnel_stream(s, delay="30 minutes", deadline="2 hours"),
        "/tmp/maxx_cep_ck1",
    )
    paths = run_op(
        spark, src, "cep_paths_b",
        lambda s: session_paths_stream(s, gap_seconds=900, delay="30 minutes"),
        "/tmp/maxx_cep_ck2",
    )
    spark.stop()

    result = {
        "workload": {"events": args.events, "users": args.users, "files": args.files,
                     "span_hours": 6, "skew": args.skew,
                     "order": "arrival = event time +-10min jitter (range-sharded files)"},
        "funnel_stream": funnel,
        "session_paths_stream": paths,
    }
    with open(os.path.join(REPO, "BENCH", args.out), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
