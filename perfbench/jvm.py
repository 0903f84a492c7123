"""Engine process lifecycle around one benchmark run.

``wait_idle`` holds the run until no other Spark JVM is alive, so set-up
is never timed while a previous run's JVM is still exiting.
``stop_and_wait`` stops the session, closes the py4j gateway and waits
until the JVM and every Python worker it spawned have exited."""

from __future__ import annotations

import os
import time


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _pids() -> list[int]:
    return [int(n) for n in os.listdir("/proc") if n.isdigit()]


def _descendants(pid: int) -> list[int]:
    parent = {}
    for p in _pids():
        st = _stat(p)
        if st is not None:
            parent[p] = int(st[1])
    out, todo = [], [pid]
    while todo:
        kids = [p for p, pp in parent.items() if pp == todo[-1]]
        todo.pop()
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _spark_jvms() -> list[int]:
    out = []
    for p in _pids():
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd and _alive(p):
            out.append(p)
    return out


def wait_idle(timeout_s: float = 60.0) -> float:
    """Wait (at most ``timeout_s``) until no Spark JVM is running. Returns
    the seconds waited."""
    t0 = time.monotonic()
    while _spark_jvms() and time.monotonic() - t0 < timeout_s:
        time.sleep(0.2)
    return time.monotonic() - t0


def stop_and_wait(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM and its descendants (the
    pyspark daemon and workers) to exit. Raises if they outlive
    ``timeout_s``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.monotonic() + timeout_s
    try:
        proc.wait(timeout=timeout_s)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
        raise
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"engine processes still running: {[p for p in pids if _alive(p)]}")
        time.sleep(0.05)
