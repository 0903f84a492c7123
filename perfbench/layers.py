"""Per-layer metrics of the traced run (``--trace 1``).

Every figure is taken from the benchmark's side of a layer boundary: the
calls into each module's public functions, the streaming progress the
engine reports, the sink's commit markers, Spark's query planning tracker
and codegen timer, and the event log the traced session writes. No engine
code is touched.

Layer -> the end-to-end metric it should move:

- session (``get_spark``)                 -> setup_s
- matparse (``extract_rows_for_page``)    -> pages_per_s
- extract (``extract_code_units``)        -> pages_per_s
- stream (``streaming.source``/``pipeline``
  micro-batch phases)                     -> latency_p50_ms/p95_ms (fixed
                                             phases), pages_per_s (addBatch)
- sink (``ExactlyOnceParquetSink``)       -> latency_p50_ms/p95_ms
- cep (``streaming.cep``, state store)    -> events_per_s
- batch (``operators/*`` via queries())   -> queries_s
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from perfbench import jvm, streams

QUERY_PROP = "perfbench.query"
QUIET = {"spark.ui.showConsoleProgress": "false"}


def spark_conf(work: str) -> dict[str, str]:
    """Session settings of the traced run: a plain-JSON event log."""
    os.makedirs(os.path.join(work, "eventlog"))
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class BatchLedger:
    """Planning phases and codegen time of each batch query; its jobs are
    tagged with a local property so the event log can be split by query."""

    def __init__(self, spark):
        self.spark = spark
        self.codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.rows: dict[str, dict] = {}
        self._c0 = 0

    def before(self, name: str) -> None:
        self.spark.sparkContext.setLocalProperty(QUERY_PROP, name)
        self._c0 = self.codegen.compileTime()

    def after(self, name: str, df) -> None:
        row = {"codegen_ms": (self.codegen.compileTime() - self._c0) / 1e6}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            row[f"{kv._1()}_ms"] = float(kv._2().durationMs())
        self.rows[name] = row
        self.spark.sparkContext.setLocalProperty(QUERY_PROP, None)


def event_log(work: str) -> dict[str, dict]:
    """Per query: jobs, tasks and task metrics, from the finished event log
    (read after the session stopped)."""
    paths = glob.glob(os.path.join(work, "eventlog", "*"))
    if len(paths) != 1 or paths[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log, found {paths}")
    stage_query: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                q = (e.get("Properties") or {}).get(QUERY_PROP)
                if q:
                    out.setdefault(q, dict.fromkeys(
                        ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                         "shuffle_bytes", "spill_bytes"), 0))
                    out[q]["jobs"] += 1
                    for s in e["Stage IDs"]:
                        stage_query[s] = q
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_query:
                m = e.get("Task Metrics") or {}
                row = out[stage_query[e["Stage ID"]]]
                row["tasks"] += 1
                row["executor_run_ms"] += m.get("Executor Run Time", 0)
                row["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                row["gc_ms"] += m.get("JVM GC Time", 0)
                row["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def session_probe(get_spark, master: str) -> float:
    """Seconds ``get_spark`` takes with the session warmup switched off,
    in a fresh JVM (the previous one must have exited)."""
    os.environ["SPARK_GRAFT_WARMUP"] = "0"
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench-nowarm", master=master, extra_conf=QUIET)
        took = time.perf_counter() - t0
        jvm.stop_and_wait(spark)
    finally:
        del os.environ["SPARK_GRAFT_WARMUP"]
    return took


def matparse_ms_per_page(rows: list[dict], n: int = 40) -> float:
    """Single-threaded parse time per MATLAB page, in this process, over
    ``n`` MATLAB pages spread evenly over ``rows``."""
    from maxx_spark.extract import extract_rows_for_page

    matlab = [p for p in rows if p["lang"] == "matlab"]
    pages = matlab[:: max(len(matlab) // n, 1)][:n]
    t0 = time.perf_counter()
    for p in pages:
        extract_rows_for_page(p["url"], p["warc_ts"], p["html"], p["text"])
    return (time.perf_counter() - t0) * 1000 / len(pages)


def extract_stage_pages_per_s(spark, files: list[str], n_pages: int) -> float:
    """Batch ``extract_code_units`` over the backlog files into a ``noop``
    sink: the extraction stage without stream or sink."""
    from maxx_spark.extract import extract_code_units
    from maxx_spark.schema import PAGES

    t0 = time.perf_counter()
    extract_code_units(spark.read.schema(PAGES).parquet(*files)).write.format("noop").mode(
        "overwrite").save()
    return n_pages / (time.perf_counter() - t0)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def stream_metrics(prefix: str, progress: list[dict]) -> dict[str, float]:
    names = {"latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
             "queryPlanning": "query_planning_ms", "addBatch": "add_batch_ms",
             "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
             "triggerExecution": "trigger_ms"}
    out = {f"{prefix}.{n}": _median(p["durationMs"].get(k, 0) for p in progress)
           for k, n in names.items()}
    out[f"{prefix}.batches"] = len(progress)
    out[f"{prefix}.rows_per_batch"] = _median(p["numInputRows"] for p in progress)
    return out


def sink_metrics(prefix: str, sink: list[dict]) -> dict[str, float]:
    out = {f"{prefix}.{k}": _median(m[k] for m in sink) for k in ("data_s", "lineage_s", "dlq_s")}
    out[f"{prefix}.files_per_batch"] = _median(m["files"] for m in sink)
    out[f"{prefix}.bytes_written"] = sum(m["bytes"] for m in sink)
    return out


def cep_metrics(prefix: str, r: dict) -> dict[str, float]:
    ps = r["progress"]
    ops = [so for p in ps for so in p.get("stateOperators", [])]
    return {
        f"{prefix}.events_per_s": r["events"] / r["seconds"],
        f"{prefix}.trigger_ms_p50": _median(p["durationMs"]["triggerExecution"] for p in ps),
        f"{prefix}.add_batch_ms_p50": _median(p["durationMs"].get("addBatch", 0) for p in ps),
        f"{prefix}.state_rows_total": max((so["numRowsTotal"] for so in ops), default=0),
        f"{prefix}.state_memory_bytes": max((so["memoryUsedBytes"] for so in ops), default=0),
        f"{prefix}.state_commit_ms": sum(so.get("commitTimeMs", 0) for so in ops),
        f"{prefix}.state_updates_ms": sum(so.get("allUpdatesTimeMs", 0) for so in ops),
        f"{prefix}.state_removals_ms": sum(so.get("allRemovalsTimeMs", 0) for so in ops),
        f"{prefix}.rows_dropped_by_watermark": sum(so.get("numRowsDroppedByWatermark", 0) for so in ops),
        f"{prefix}.rows_out": len(r["rows"]),
    }


def batch_metrics(b: dict, ledger: BatchLedger, log: dict[str, dict], cores: int) -> dict[str, float]:
    """Totals over the query list, plus build/run time of each query.
    ``residual_ms``: materialize time not covered by optimization,
    planning, codegen and executor busy time spread over the cores
    (scheduling gaps, result transfer, Arrow conversion)."""
    keys = ("analysis_ms", "optimization_ms", "planning_ms", "codegen_ms")
    logged = ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
              "shuffle_bytes", "spill_bytes")
    out = {"batch.build_ms": 0.0, **{f"batch.{k}": 0.0 for k in keys + logged},
           "batch.residual_ms": 0.0}
    for name, t in b["per_query"].items():
        led, ev = ledger.rows[name], log.get(name, dict.fromkeys(logged, 0))
        short = name.split("_")[0]
        out[f"batch.{short}.build_ms"] = t["build_s"] * 1000
        out[f"batch.{short}.run_ms"] = t["run_s"] * 1000
        out["batch.build_ms"] += t["build_s"] * 1000
        for k in keys:
            out[f"batch.{k}"] += led.get(k, 0.0)
        for k in logged:
            out[f"batch.{k}"] += ev[k]
        out["batch.residual_ms"] += (t["run_s"] * 1000 - led.get("optimization_ms", 0.0)
                                     - led.get("planning_ms", 0.0) - led["codegen_ms"]
                                     - ev["executor_run_ms"] / cores)
    return out
