"""Throughput metrics (E10): a StreamingQueryListener recording per-batch
input rows, processing time, and rows/sec — the figures BENCH/BASELINE.md
reports for the two-parallelism scaling criterion — plus what each batch
leaves behind: state-store rows and memory, late drops and the watermark."""

from __future__ import annotations

import threading

from pyspark.sql.streaming import StreamingQueryListener


def _ledger_row(p) -> dict:
    """One micro-batch's ledger entry from a ``StreamingQueryProgress``
    (a listener event's or a ``recentProgress`` entry)."""
    ops = p.stateOperators or []
    return {
        "run_id": str(p.runId),
        "batch_id": p.batchId,
        "num_input_rows": p.numInputRows,
        "duration_ms": (p.durationMs or {}).get("triggerExecution"),
        # full engine breakdown (addBatch/getBatch/latestOffset/
        # queryPlanning/walCommit/commitOffsets) — the per-batch
        # FIXED-cost ledger the scaling protocol optimizes against
        "duration_breakdown_ms": dict(p.durationMs or {}),
        "rows_per_sec": p.processedRowsPerSecond,
        # state left behind, summed over the stateful operators
        "state_rows_total": sum(o.numRowsTotal for o in ops),
        "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
        "rows_dropped_by_watermark": sum(o.numRowsDroppedByWatermark for o in ops),
        "watermark": (p.eventTime or {}).get("watermark"),
    }


class ThroughputListener(StreamingQueryListener):
    def __init__(self):
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        row = _ledger_row(event.progress)
        with self._lock:
            self.batches.append(row)

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def summary(self, query) -> dict:
        """Ledger of ``query``'s micro-batches that read input, taken from
        ``query.recentProgress``, which is complete once the query has
        stopped (a listener event can still be in flight after
        ``awaitTermination()`` returns). Batches older than its retention
        window (100 entries by default) come from the events received."""
        # events arrive asynchronously: drain the bus so no old batch is in flight
        query._jsq.sparkSession().sparkContext().listenerBus().waitUntilEmpty()
        with self._lock:
            bs = list(self.batches)
        recent = [_ledger_row(p) for p in query.recentProgress]
        first = min((b["batch_id"] for b in recent), default=0)
        bs = [b for b in bs if b["run_id"] == query.runId and b["batch_id"] < first] + recent
        bs = [b for b in bs if b["num_input_rows"]]
        rows = sum(b["num_input_rows"] for b in bs)
        secs = sum((b["duration_ms"] or 0) for b in bs) / 1000.0
        return {
            "batches": len(bs),
            "input_rows": rows,
            "wall_s": round(secs, 3),
            "rows_per_sec": round(rows / secs, 2) if secs else None,
            "detail": bs,
        }
