"""Layer E — the Structured Streaming engine (SURVEY.md §2.2).

- ``source``: file-stream source (Iceberg-shaped; parquet-dir fallback).
- ``pipeline``: watermarked extraction + tumbling/sliding/session window
  queries (the streaming twins of ``operators.windows``).
- ``sink``: exactly-once idempotent foreachBatch sink with commit log and
  per-partition lineage (E9/E10).
- ``resolver``: stateful cross-file resolution — class-folder assembly and
  out-of-order base-class joins in ``applyInPandasWithState`` (E5/E6).
- ``cep``: streaming CEP — strict-order funnel (twin of q64) and gap-session
  paths (twin of q66) over one watermark-replay core.
- ``corpus``: streaming corpus ingestion — quality gate, watermarked dedup
  and hash split through the exactly-once sink (batch mirror q54).
- ``clock``: the event-time conversion every state fn uses (null-safe).
- ``metrics``: StreamingQueryListener throughput recorder.
"""
