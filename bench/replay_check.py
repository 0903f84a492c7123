"""Exactly-once REPLAY identity at bench scale (VERDICT r4 item 6).

The fixture-SF restart test (tests/test_streaming.py) proves the commit
protocol; this script proves it at the scaling input's size with a REAL
crash: the streaming extraction job is spark-submitted over the 200k-page
input, SIGKILLed once at least two commit markers exist (so a third batch
is typically mid-flight — data possibly written, marker not), resumed from
the same checkpoint to completion, and the committed row SET is compared
against an uninterrupted clean run of the same job:

- row count equal,
- distinct-row count equal (a duplicate-producing replay changes this even
  where an order-free fold could cancel),
- order-free bit_xor(xxhash64(all columns)) fold equal.

The same fingerprint is taken of the committed dead letters (``errors/``):
besides the staged heavy pages, the input holds perfbench page files with
malformed classdef headers (every 20th page), one per planned micro-batch,
so every batch routes error rows. Each leg must also satisfy
sum(marker ``dlq_rows``) == dead-letter rows == data rows with an error.

The jobs run at local[<cores this process may use>] with the engine's
default driver memory (``session.driver_memory()``).

Prints one JSON line and writes BENCH/replay_check.json.

Usage: python bench/replay_check.py [--pages 200000] [--mfpt 64] [--src DIR]

The engine zip and the two legs' outputs are written next to ``--src``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bench"))

from scaling import build_zip, stage_input  # noqa: E402

from maxx_spark.session import driver_memory  # noqa: E402

MASTER = f"local[{len(os.sched_getaffinity(0))}]"
ERROR_PAGES_PER_FILE = 40  # two malformed pages per file


def stage_error_pages(src: str, n_files: int) -> int:
    """Add ``n_files`` perfbench page files (``perfbench.inputs.page_rows``,
    MATLAB/text/malformed mix) to ``src``. File i takes the mtime of every
    (len/n_files)-th staged file: the file source orders by mtime, so the
    error pages spread over the micro-batches instead of trailing them."""
    from perfbench.inputs import page_rows, write_pages

    staged = sorted(glob.glob(f"{src}/*.parquet"), key=os.path.getmtime)
    step = max(1, len(staged) // n_files)
    for i in range(n_files):
        path = f"{src}/errors-{i:03d}.parquet"
        write_pages(path, page_rows(seed=1, start=i * ERROR_PAGES_PER_FILE,
                                    n=ERROR_PAGES_PER_FILE, skew=False))
        st = os.stat(staged[min(i * step, len(staged) - 1)])
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    return n_files * ERROR_PAGES_PER_FILE


def _submit(zip_path: str, src: str, out: str, ckpt: str, mfpt: int) -> subprocess.Popen:
    cmd = [
        "spark-submit",
        "--master", MASTER,
        "--driver-memory", driver_memory(),
        "--py-files", zip_path,
        os.path.join(REPO, "bench", "run_stream.py"),
        "--src", src, "--out", out, "--ckpt", ckpt, "--mfpt", str(mfpt),
    ]
    return subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, start_new_session=True,
    )


def _run_to_completion(proc: subprocess.Popen, timeout: int = 1800) -> None:
    proc.communicate(timeout=timeout)
    if proc.returncode != 0:
        raise RuntimeError(f"spark-submit failed rc={proc.returncode}")


def _fingerprint(df) -> dict:
    from pyspark.sql import functions as F

    # full-row identity via JSON serialization (xxhash64/countDistinct do
    # not accept map columns); key and map-entry order is deterministic —
    # the same extraction code builds the structures in both legs
    j = df.select(F.to_json(F.struct(*df.columns)).alias("j"))
    # bit_xor alone cancels rows with even multiplicity; the exact DECIMAL
    # sum of the same hashes is multiplicity-sensitive and still order-free,
    # so the pair pins the committed multiset (up to hash collisions)
    row = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("j").alias("distinct_rows"),
        F.expr("bit_xor(xxhash64(j))").alias("xor_fold"),
        F.sum(F.xxhash64("j").cast("decimal(38,0)")).alias("sum_fold"),
    ).first()
    return {"rows": row["rows"], "distinct_rows": row["distinct_rows"],
            "xor_fold": row["xor_fold"], "sum_fold": str(row["sum_fold"])}


def _committed_fingerprint(out_dir: str) -> dict:
    """Fingerprints of the committed rows and of the committed batches'
    dead letters, the marker ``dlq_rows`` sum and the committed error-row
    count."""
    from pyspark.sql import functions as F

    from maxx_spark.session import get_spark
    from maxx_spark.streaming.sink import ExactlyOnceParquetSink

    spark = get_spark("replay-fingerprint", master=MASTER)
    sink = ExactlyOnceParquetSink(out_dir)
    df = sink.read_committed(spark)
    batches = sink.committed_batches()
    err_dirs = [d for d in (f"{out_dir}/errors/batch_id={b}" for b in batches)
                if os.path.isdir(d)]
    errors = spark.read.parquet(*err_dirs).drop("__pid") if err_dirs else df.limit(0)
    dlq_rows = 0
    for b in batches:
        with open(f"{out_dir}/_commits/{b}.json") as f:
            dlq_rows += json.load(f)["dlq_rows"]
    fp = {"data": _fingerprint(df), "errors": _fingerprint(errors),
          "marker_dlq_rows": dlq_rows,
          "data_error_rows": df.where(F.col("error").isNotNull()).count()}
    spark.stop()
    return fp


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=200_000)
    ap.add_argument("--mfpt", type=int, default=64)  # 512 files -> 8 batches
    ap.add_argument("--src", default="/tmp/maxx_replay_in")
    args = ap.parse_args()

    if not os.path.isdir(args.src):
        n = stage_input(args.src, args.pages, n_files=512)
        n += stage_error_pages(args.src, n_files=512 // args.mfpt)
        print(f"staged {n} pages", flush=True)
    import pyarrow.parquet as pq

    n_pages = sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(f"{args.src}/*.parquet")
    )

    # the engine zip and both legs' outputs sit next to the input
    work = os.path.dirname(os.path.abspath(args.src))
    zip_path = f"{work}/engine_replay.zip"
    build_zip(zip_path)

    clean_root, crash_root = f"{work}/maxx_replay_clean", f"{work}/maxx_replay_crash"
    for root in (clean_root, crash_root):
        shutil.rmtree(root, ignore_errors=True)

    # clean leg
    t0 = time.time()
    _run_to_completion(_submit(zip_path, args.src, f"{clean_root}/out",
                               f"{clean_root}/ckpt", args.mfpt))
    clean_wall = round(time.time() - t0, 1)

    # crash leg: SIGKILL the whole process group once >=2 markers exist and
    # the next batch has had time to go mid-flight
    proc = _submit(zip_path, args.src, f"{crash_root}/out",
                   f"{crash_root}/ckpt", args.mfpt)
    markers_dir = f"{crash_root}/out/_commits"
    deadline = time.time() + 600
    while time.time() < deadline:
        if len(glob.glob(f"{markers_dir}/*.json")) >= 2:
            break
        if proc.poll() is not None:
            raise RuntimeError("crash-leg job finished before the kill")
        time.sleep(0.2)
    time.sleep(2.0)  # let the next batch start writing data
    markers_at_kill = len(glob.glob(f"{markers_dir}/*.json"))
    os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    proc.wait()
    print(f"killed crash leg with {markers_at_kill} committed batches", flush=True)

    # resume from the same checkpoint: replayed batches must hit the
    # is_committed skip; the mid-flight batch rewrites its deterministic
    # path and commits exactly once
    t0 = time.time()
    _run_to_completion(_submit(zip_path, args.src, f"{crash_root}/out",
                               f"{crash_root}/ckpt", args.mfpt))
    resume_wall = round(time.time() - t0, 1)

    fp_clean = _committed_fingerprint(f"{clean_root}/out")
    fp_crash = _committed_fingerprint(f"{crash_root}/out")
    identical = fp_clean == fp_crash
    dlq_consistent = all(
        fp["marker_dlq_rows"] == fp["errors"]["rows"] == fp["data_error_rows"] > 0
        for fp in (fp_clean, fp_crash)
    )
    result = {
        "metric": "exactly_once_replay_identity",
        "pages": n_pages,
        "src": os.path.basename(args.src),
        "mfpt": args.mfpt,
        "markers_at_kill": markers_at_kill,
        "clean": fp_clean,
        "crashed_then_resumed": fp_crash,
        "identical": identical,
        "dlq_consistent": dlq_consistent,
        "master": MASTER,
        "driver_memory": driver_memory(),
        "clean_wall_s": clean_wall,
        "resume_wall_s": resume_wall,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "replay_check.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    if not (identical and dlq_consistent):
        sys.exit(1)


if __name__ == "__main__":
    main()
