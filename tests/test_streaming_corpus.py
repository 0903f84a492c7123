"""Streaming corpus ingestion (axes A+B integration): quality gate +
watermarked streaming dedup + content-hash split over a documents stream,
through the exactly-once sink — asserted arrival-order-agnostically against
the batch mirror (the streaming dedup keeps the first ARRIVAL; every
content-keyed output column must be identical for any survivor)."""

import pytest


@pytest.fixture(scope="module")
def staged_docs(spark, tmp_path_factory, sf_dir):
    from maxx_spark.streaming.corpus import stage_documents_dir

    src = str(tmp_path_factory.mktemp("docs_stream") / "src")
    n = stage_documents_dir(spark, src, sf_dir, n_chunks=3, n_dupes=50)
    return src, n


def test_streaming_corpus_ingest_matches_batch_mirror(spark, staged_docs, tmp_path):
    from maxx_spark.streaming.corpus import (
        DOCS_STREAM_SCHEMA,
        corpus_ingest_mirror,
        corpus_ingest_query,
    )

    src, n_staged = staged_docs
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q, sink = corpus_ingest_query(spark, src, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)
    got = sink.read_committed(spark)

    batch_docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(src)
    want = corpus_ingest_mirror(batch_docs)

    # one survivor per distinct content hash, quality-filtered
    got_rows = got.collect()
    hashes = [r["text_hash"] for r in got_rows]
    assert len(hashes) == len(set(hashes)) == want.count() > 0
    assert set(hashes) == {r["text_hash"] for r in want.collect()}

    # content-keyed columns identical regardless of which duplicate survived
    want_by_hash = {r["text_hash"]: r for r in want.collect()}
    for r in got_rows:
        w = want_by_hash[r["text_hash"]]
        assert (r["bucket"], r["split"]) == (w["bucket"], w["split"])
        assert 0 <= r["bucket"] < 100

    # the injected re-crawls were deduplicated: fewer outputs than inputs
    assert len(got_rows) < n_staged

    # lineage rows carry crawl_ts min/max per partition; a partition whose
    # rows were ALL deduplicated away legitimately reports rows=0 with no
    # ts statistics (empty parquet footer), so the non-null requirement
    # applies only to producing partitions
    lin = sink.read_lineage(spark).collect()
    assert len(lin) > 0 and sum(r["rows"] for r in lin) == len(got_rows)
    assert all(
        r["min_ts"] is not None and r["max_ts"] is not None
        for r in lin
        if r["rows"] > 0
    )


def test_streaming_corpus_ingest_restart_is_idempotent(spark, staged_docs, tmp_path):
    from maxx_spark.streaming.corpus import corpus_ingest_query

    src, _ = staged_docs
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q, sink = corpus_ingest_query(spark, src, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)
    n1 = sink.read_committed(spark).count()
    batches1 = sink.committed_batches()

    # restart on the same checkpoint: no new input -> no new batches, no
    # duplicated rows (replayed batches are skipped by the commit log)
    q2, sink2 = corpus_ingest_query(spark, src, out, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(300)
    assert sink2.read_committed(spark).count() == n1
    assert sink2.committed_batches() == batches1
