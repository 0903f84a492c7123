"""Streaming extraction benchmark worker — run via spark-submit:

    spark-submit --master local[8] --py-files engine.zip \
        bench/run_stream.py --src DIR --out DIR --ckpt DIR [--mfpt N]

Prints one JSON line: {"master", "pages", "units", "wall_s",
"pages_per_sec", "units_per_sec", "batches"}.
"""

from __future__ import annotations

import argparse
import json
import os
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--mfpt", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("maxx-bench-stream")
        .config("spark.sql.shuffle.partitions", "64")
        # one task per input file: with the tiny-but-dense bench parquet,
        # default open-cost binning would collapse a 64-file micro-batch
        # into a handful of splits and cap parallelism
        .config("spark.sql.files.openCostInBytes", "134217728")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.sparkContext.master

    from maxx_spark.schema import PAGES
    from maxx_spark.streaming.pipeline import extraction_query
    from maxx_spark.streaming.metrics import ThroughputListener

    listener = ThroughputListener()
    spark.streams.addListener(listener)

    n_pages = spark.read.schema(PAGES).parquet(args.src).count()

    # warmup: initialize Python workers + parser module on EVERY core —
    # limit() alone collapses to one partition and warms a single worker,
    # leaving the first micro-batch to pay 31 worker spin-ups (~7 s at
    # local[32], ~10% of a 4-batch run); repartition fans the warmup rows
    # across >= one task per slot
    from maxx_spark.extract import extract_code_units

    extract_code_units(
        spark.read.schema(PAGES).parquet(args.src).limit(2048).repartition(64)
    ).count()

    t0 = time.perf_counter()
    q, sink = extraction_query(
        spark, args.src, args.out, args.ckpt, max_files_per_trigger=args.mfpt
    )
    q.awaitTermination(3600)
    wall = time.perf_counter() - t0

    n_units = sink.read_committed(spark).count()
    s = listener.summary(q)
    print(
        json.dumps(
            {
                "master": master,
                "pages": n_pages,
                "units": n_units,
                "wall_s": round(wall, 3),
                "pages_per_sec": round(n_pages / wall, 2),
                "units_per_sec": round(n_units / wall, 2),
                # sustained rate over the batches' triggerExecution time —
                # excludes one-off query bootstrap, which an unbounded
                # stream amortizes to zero; both rates are reported
                "steady_s": s["wall_s"],
                "steady_pages_per_sec": s["rows_per_sec"],
                "batches": s["batches"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
