"""Micro-batch progress, read from ``StreamingQuery.recentProgress`` after
the query has stopped. (The listener's ``summary()`` can miss the final
batch, whose progress event is posted asynchronously.)"""

from __future__ import annotations

import datetime as dt

PROGRESS_CAP = 100  # Spark keeps the last 100 progress entries only


def reported(q) -> int:
    """Number of micro-batches with input that have reported progress."""
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def progress(q, n_batches: int, no_data: bool = False) -> list[dict]:
    """Progress of every micro-batch that read input (and, with
    ``no_data``, of the no-data batches too). Raises if the cap was
    reached (entries may be lost) or a batch with input is missing."""
    ps = q.recentProgress
    if len(ps) >= PROGRESS_CAP:
        raise RuntimeError(f"recentProgress holds {len(ps)} entries: cap reached, batches lost")
    data = [p for p in ps if p["numInputRows"] > 0]
    if len(data) != n_batches:
        raise RuntimeError(f"recentProgress lists {len(data)} of {n_batches} batches")
    return ps if no_data else data


def start_epoch(p: dict) -> float:
    """Start of a progress entry's trigger, in seconds since the epoch."""
    return dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()
