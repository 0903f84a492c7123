"""Streaming corpus ingestion: the training-data pipeline's batch operators
(quality gate, exact dedup, content-hash split) composed over a continuous
documents stream with the engine's watermark + exactly-once machinery —
the axes-A+B integration path: a crawl feed lands deduplicated,
quality-filtered, split-labelled, exactly once.

Stage order is dictated by the engine invariants:

1. the quality gate FIRST — a stateless row predicate, and the repo
   invariant forbids any filter between ``withWatermark`` and a
   stateful operator (Catalyst would push it below the watermark node and
   freeze the event-time clock).
2. ``withWatermark`` then ``dropDuplicatesWithinWatermark`` on
   ``dedup.text_hash`` — the streaming form of ``dedup.canonical_ids``:
   state holds one entry per distinct hash inside the ``DEDUP_DELAY``
   watermark horizon, so re-crawled duplicates are dropped without
   unbounded state. Unlike the batch form (min doc_id canonical), the
   survivor is the FIRST ARRIVAL — content-keyed downstream columns
   (bucket, split) are identical for any survivor, which is what tests
   assert. Spark rejects this dedup on a batch frame, so
   ``corpus_ingest`` is stream-only and ``corpus_ingest_mirror`` is the
   one batch form (the oracle-checked q54).
3. ``hash_split`` bucket/split projection — stateless, content-keyed, so a
   doc's split never depends on arrival order or corpus growth.
4. ``ExactlyOnceParquetSink`` keyed on ``crawl_ts`` — idempotent commit
   markers, per-partition footer lineage, DLQ; replays after restart are
   skipped (same guarantees as the extraction pipeline, test_streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maxx_spark.operators.corpus import quality_gated, split_cols
from maxx_spark.operators.dedup import canonical_ids, text_hash
from maxx_spark.streaming.sink import ExactlyOnceParquetSink

# event-time horizon of the streaming content dedup
DEDUP_DELAY = "10 minutes"

DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long, "
    "crawl_ts timestamp"
)


def documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    r = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(path)


def stage_documents_dir(
    spark: SparkSession,
    out_dir: str,
    sf_dir: str,
    n_chunks: int = 3,
    n_dupes: int = 50,
) -> int:
    """Stage the sf documents table as a timestamped parquet stream source:
    crawl_ts = epoch-2024 + (doc_id mod 200) seconds (deterministic), plus
    ``n_dupes`` re-crawls of the first docs (new doc_id, +230 s offset, same
    text). The WHOLE event-time span is bounded at 430 s regardless of
    corpus size — strictly inside corpus_ingest's 10-minute ``DEDUP_DELAY``
    watermark, so no staged row can ever be late-dropped and the
    batch-mirror equality the tests assert is independent of file arrival
    order and of the table's row count. Written as ``n_chunks`` files =
    micro-batch boundaries. Returns total staged rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") % 200)
    base = docs.select("doc_id", "text", "lang", "source", "n_chars", ts.alias("crawl_ts"))
    dup = (
        docs.orderBy("doc_id")
        .limit(n_dupes)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
            F.timestamp_seconds(
                F.lit(1704067200 + 230) + F.col("doc_id") % 200
            ).alias("crawl_ts"),
        )
    )
    staged = base.unionByName(dup)
    staged.repartition(n_chunks).write.mode("overwrite").parquet(out_dir)
    return staged.count()


def corpus_ingest(docs: DataFrame) -> DataFrame:
    """The transformation stage over a documents STREAM (see the module
    docstring); ``corpus_ingest_mirror`` is its batch form."""
    deduped = (
        quality_gated(docs)
        .withColumn("text_hash", text_hash(F.col("text")))
        .withWatermark("crawl_ts", DEDUP_DELAY)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    bucket, split = split_cols()
    return deduped.select(
        "doc_id", "text_hash", "lang", "source", "crawl_ts", bucket
    ).select("doc_id", "text_hash", "lang", "source", "crawl_ts", "bucket", split)


def corpus_ingest_mirror(documents: DataFrame) -> DataFrame:
    """DETERMINISTIC batch mirror of the ingest contract for the oracle
    gate (q54): same quality gate and content-keyed split columns, but the
    dedup survivor is pinned to the canonical min-doc_id row
    (``dedup.canonical_ids``; the streaming op keeps first arrival —
    nondeterministic across partitions, so the driver-checked mirror pins
    the choice the way exact_dedup does). Works on the raw driver
    ``documents`` table (no crawl_ts)."""
    filtered = quality_gated(documents).withColumn("text_hash", text_hash(F.col("text")))
    canon = filtered.join(canonical_ids(filtered), "doc_id", "semi")
    bucket, split = split_cols()
    return (
        canon.select("doc_id", "text_hash", "lang", "source", bucket)
        .select("doc_id", "text_hash", "lang", "source", "bucket", split)
        .orderBy("doc_id")
    )


def corpus_ingest_query(
    spark: SparkSession,
    src: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """documents stream → quality gate → watermarked streaming dedup →
    split labelling → exactly-once sink. Returns (StreamingQuery, sink)."""
    docs = documents_stream(spark, src, max_files_per_trigger)
    out = corpus_ingest(docs)
    sink = ExactlyOnceParquetSink(out_dir, ts_col="crawl_ts")
    q = (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return q, sink
