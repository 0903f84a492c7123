"""Streaming pipelines (E1-E4, E8-E11 composed).

The windowed aggregations here are the streaming twins of
``operators.windows`` — same expressions, same semantics, proven against
the DuckDB oracle in batch and re-tested under micro-batch execution here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maxx_spark.extract import extract_code_units
from maxx_spark.operators.codeunits import with_host
from maxx_spark.streaming.sink import ExactlyOnceParquetSink
from maxx_spark.streaming.source import pages_stream


def extraction_query(
    spark: SparkSession,
    src: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    glob_root: str | None = None,
    glob_recursive: bool = True,
):
    """pages stream → (optional P1 glob-membership predicate) → vectorized
    extraction → exactly-once sink.

    ``glob_root`` applies the reference PathGlobber membership rules
    (operators/globber.py) as a JVM predicate on the stream BEFORE the
    Python stage — the streaming form of registered-roots ingestion: pages
    outside the root's membership (top-level private dirs, Contents.m,
    plain dirs below +pkg) never reach the extractor.

    With ``available_now=False`` the query is live and keeps Spark's default
    trigger: each micro-batch starts as soon as the previous one commits, so
    a file waits for at most one batch in flight, never for a clock. A
    source with no new files is polled again every
    ``spark.sql.streaming.pollingDelay`` (500 ms from ``get_spark``; see
    ``maxx_spark.session``).

    Returns (StreamingQuery, sink). Resumable: same checkpoint_dir resumes
    from the last committed offset; replayed batches are skipped by the
    sink's commit log.
    """
    pages = pages_stream(spark, src, max_files_per_trigger)
    if glob_root is not None:
        from maxx_spark.operators.globber import glob_filter

        pages = glob_filter(pages, glob_root, recursive=glob_recursive,
                            parse_live_scripts=True)
    units = extract_code_units(pages)
    sink = ExactlyOnceParquetSink(out_dir)
    w = (
        units.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    q = w.trigger(availableNow=True).start() if available_now else w.start()
    return q, sink


def windowed_unit_counts(
    pages: DataFrame,
    delay: str = "10 minutes",
    size: str = "5 minutes",
    slide: str | None = None,
) -> DataFrame:
    """E2+E3: watermarked tumbling (or sliding) per-host unit counts over
    the extraction output. Late pages beyond the watermark are dropped by
    the engine (the batch mirror of this rule is oracle-checked in
    q09_late_data_window)."""
    units = extract_code_units(pages)
    win = F.window("warc_ts", size, slide) if slide else F.window("warc_ts", size)
    return (
        units.withWatermark("warc_ts", delay)
        .transform(with_host)
        .groupBy(win.alias("w"), "host")
        .agg(F.count(F.lit(1)).alias("n_units"))
        .select(F.col("w.start").alias("window_start"), "host", "n_units")
    )


def session_unit_counts(pages: DataFrame, delay: str = "10 minutes", gap: str = "2 minutes") -> DataFrame:
    """E4: session windows keyed by host — groups the files of one MATLAB
    project crawled as a burst."""
    units = extract_code_units(pages)
    return (
        units.withWatermark("warc_ts", delay)
        .transform(with_host)
        .groupBy(F.session_window("warc_ts", gap).alias("w"), "host")
        .agg(F.count(F.lit(1)).alias("n_units"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "host",
            "n_units",
        )
    )


def salted_host_counts(pages: DataFrame, delay: str = "10 minutes", n_salt: int = 16) -> DataFrame:
    """E8: two-phase windowed aggregate for mega-host skew. Phase 1 groups
    by (window, host, salt) — the hot host fans over n_salt reducers whose
    partials combine map-side; phase 2 merges n_salt rows per (window, host).

    In streaming both phases run inside one micro-batch plan; state is keyed
    by the phase-2 key only.
    """
    salt = (F.hash("url") % n_salt + n_salt) % n_salt
    partial = (
        pages.withWatermark("warc_ts", delay)
        .transform(with_host)
        .withColumn("__salt", salt)
        .groupBy(F.window("warc_ts", "5 minutes").alias("w"), "host", "__salt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        partial.groupBy("w", "host")
        .agg(F.sum("c").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "host", "n_pages")
    )


def run_to_memory(df: DataFrame, name: str, checkpoint_dir: str, output_mode: str = "append", timeout: int = 300):
    """Run a streaming DF to a memory sink with availableNow; await and
    return the collected rows via spark.sql."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def dedup_units_stream(pages: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """E7 streaming twin: first-seen-wins dedup of code units per
    (host, unit_path, kind) within the watermark horizon —
    dropDuplicatesWithinWatermark keeps state bounded by event time (the
    streaming analogue of the batch shadowing dedup, which additionally
    orders by path rank; in a stream, arrival order IS the precedence)."""
    units = extract_code_units(pages)
    return (
        units.withWatermark("warc_ts", delay)
        .transform(with_host)
        .dropDuplicatesWithinWatermark(["host", "unit_path", "kind"])
    )
