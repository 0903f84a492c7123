"""Benchmark entry point: one fresh process and one engine session per run.

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 30 --trace 0

A run waits until no other Spark JVM is alive, starts the engine's session
(``setup_s``), then drives the engine's four user paths in a fixed order,
each on inputs made from ``--seed``:

1. batch_queries: one cold pass over oracle-checked queries;
2. extract_backlog: drain of a staged MATLAB page backlog;
3. cep_replay: an out-of-order event stream through both CEP operators;
4. extract_live: open-loop page arrivals at a fixed rate.

Every output is checked outside the clocks (batch re-extraction, batch CEP
mirrors, DuckDB oracle). The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (which
also writes its spans under ``.perfbench_out/``). ``--smoke`` shrinks every
input; ``--corrupt`` damages every output before the checks (self-test).
See perfbench/README.md for the workloads and the layer -> metric map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # before any heavy import

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import jvm  # noqa: E402

WORKLOADS = {"uniform": False, "skewed": True}  # name -> skewed inputs
UNITS = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "events_per_s": "1/s",
    "queries_s": "s",
}
RUN_LIMIT_S = 175  # the whole run, including set-up and checks


def sizes(seconds: int, smoke: bool) -> dict:
    """Input sizes of a run that measures for about ``seconds`` on 4 cores
    (plus the engine's fixed per-micro-batch cost); the batch query list
    is fixed."""
    if smoke:
        return {"backlog_per_file": 6, "live_s": 2.0, "cep_events": 600, "cep_users": 40}
    return {
        "backlog_per_file": 2 * seconds,  # 8 files
        "live_s": seconds * 8 / 30,  # plus the warm-up second
        "cep_events": 200 * seconds,
        "cep_users": 5 * seconds,
    }


def cores() -> int:
    return len(os.sched_getaffinity(0))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="damage outputs before the checks (self-test)")
    args = ap.parse_args(argv)
    faulthandler.dump_traceback_later(RUN_LIMIT_S, exit=True)

    waited = jvm.wait_idle()
    import __spark_entry__  # noqa: F401  (fail fast outside a full checkout)
    from maxx_spark.session import get_spark
    from perfbench import batch, cep, extraction, layers
    from perfbench.trace import Tracer

    skew = WORKLOADS[args.workload]
    size = sizes(args.seconds, args.smoke)
    master = f"local[{cores()}]"
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(bool(args.trace), T_START)
    conf = dict(layers.QUIET, **(layers.spark_conf(work) if args.trace else {}))

    with tracer.span("setup"):
        t_get = time.perf_counter()
        spark = get_spark("perfbench", master=master, extra_conf=conf)
        get_spark_s = time.perf_counter() - t_get
    setup_s = time.perf_counter() - T_START - waited

    ops: dict[str, int] = {}  # ops attempted per user path
    failures: list[str] = []
    res: dict[str, dict] = {}

    def fail(name: str, bad: list[str]) -> None:
        failures.extend(f"{name}: {b}" for b in bad[:ops[name]])

    def phase(name: str, n_ops: int, fn) -> None:
        """Run one user path; an exception fails all its ops."""
        ops[name] = n_ops
        t0 = time.perf_counter()
        try:
            res[name] = fn()
        except Exception as ex:
            traceback.print_exc()
            fail(name, [f"{type(ex).__name__}: {str(ex)[:500]}"] * n_ops)
        print(f"phase {name}: {time.perf_counter() - t0:.2f} s", file=sys.stderr, flush=True)

    def verify(names: tuple[str, ...], corrupt, check) -> None:
        """Check the outputs of user paths that ran, outside their clocks.
        ``check`` returns the failures of each path; an exception fails
        all their ops."""
        names = tuple(n for n in names if n in res)
        if not names:
            return
        t0 = time.perf_counter()
        try:
            if args.corrupt:
                for n in names:
                    corrupt(res[n])
            for n, bad in check(*(res[n] for n in names)).items():
                fail(n, bad)
        except Exception as ex:
            traceback.print_exc()
            for n in names:
                fail(n, [f"check: {type(ex).__name__}: {str(ex)[:500]}"] * ops[n])
        print(f"check {'+'.join(names)}: {time.perf_counter() - t0:.2f} s", file=sys.stderr, flush=True)

    ref: dict = {}  # reference row counts of the extraction check
    ledger = layers.BatchLedger(spark) if args.trace else None
    stage_pps = 0.0

    def extraction_check(backlog_run: dict, live_run: dict) -> dict[str, list[str]]:
        bad, counts = extraction.check(spark, backlog_run, live_run)
        ref.update(counts)
        return bad

    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            phase("batch_queries", len(batch.QUERIES),
                  lambda: batch.run(spark, work, args.seed, skew, tracer, ledger))
            verify(("batch_queries",), batch.corrupt, lambda r: {"batch_queries": batch.check(r)})
            phase("extract_backlog", 1,
                  lambda: extraction.backlog(spark, work, args.seed, size["backlog_per_file"], skew, tracer))
            phase("cep_replay", 2,
                  lambda: cep.run(spark, work, args.seed, size["cep_events"], size["cep_users"], skew, tracer))
            verify(("cep_replay",), cep.corrupt, lambda r: {"cep_replay": cep.check(spark, r)})
            phase("extract_live", 1,
                  lambda: extraction.live(spark, work, args.seed, size["live_s"], skew, tracer))
            verify(("extract_backlog", "extract_live"), extraction.corrupt, extraction_check)
            if args.trace and "extract_backlog" in res:
                bl = res["extract_backlog"]
                with tracer.span("extract_stage"):
                    stage_pps = layers.extract_stage_pages_per_s(spark, bl["files"], bl["traffic"]["pages"])
    finally:
        jvm.stop_and_wait(spark)

    e2e = {
        "setup_s": setup_s,
        "queries_s": res.get("batch_queries", {}).get("queries_s", 0.0),
        "pages_per_s": res.get("extract_backlog", {}).get("pages_per_s", 0.0),
        "latency_p50_ms": res.get("extract_live", {}).get("latency_p50_ms", 0.0),
        "latency_p95_ms": res.get("extract_live", {}).get("latency_p95_ms", 0.0),
        "events_per_s": res.get("cep_replay", {}).get("events_per_s", 0.0),
    }
    traffic = {k: r["traffic"] for k, r in res.items()}
    print(f"traffic {json.dumps(traffic)}", file=sys.stderr)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr, flush=True)

    if args.trace:
        with tracer.span("session_probe"):
            nowarm_s = layers.session_probe(get_spark, master)
        metrics = trace_metrics(res, ref, e2e, ledger, layers.event_log(work), tracer)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.warmup_s"] = get_spark_s - nowarm_s
        metrics["extract.stage_pages_per_s"] = stage_pps
        units = {k: unit_of(k) for k in metrics}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
                     workload=args.workload, seed=args.seed, traffic=traffic, metrics=metrics,
                     end_to_end=e2e)
    else:
        metrics, units = e2e, UNITS
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": sum(ops.values()),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if "_ms" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    return "bytes" if "bytes" in name else "count"


def trace_metrics(res: dict, ref: dict, e2e: dict, ledger, log: dict, tracer) -> dict:
    """Per-layer metrics from the results of a traced run."""
    from perfbench import layers

    bl, lv, c, b = (res.get(k) for k in ("extract_backlog", "extract_live", "cep_replay", "batch_queries"))
    m: dict[str, float] = {}
    if bl:
        m["matparse.serial_ms_per_page"] = layers.matparse_ms_per_page(bl["rows"])
        pages = bl["traffic"]["pages"] + (lv["traffic"]["pages"] if lv else 0)
        m["extract.units_per_page"] = ref.get("rows", 0) / pages
        m["extract.error_rows"] = ref.get("error_rows", 0)
        m.update(layers.stream_metrics("stream.backlog", bl["progress"]))
        m.update(layers.sink_metrics("sink.backlog", bl["sink"]))
    if lv:
        m.update(layers.stream_metrics("stream.live", lv["progress"]))
        m.update(layers.sink_metrics("sink.live", lv["sink"]))
        m["live.gen_late_ms_max"] = lv["gen_late_ms_max"]
        m["live.backlog_files_end"] = lv["backlog_files_end"]
    if c:
        m.update(layers.cep_metrics("cep.funnel", c["funnel"]))
        m.update(layers.cep_metrics("cep.paths", c["paths"]))
    if b:
        m.update(layers.batch_metrics(b, ledger, log, cores()))
    m.update({f"traced.{k}": v for k, v in e2e.items()})
    m["trace.overhead_ms"] = tracer.overhead_s * 1000
    m["trace.spans"] = len(tracer.spans)
    return m


if __name__ == "__main__":
    sys.exit(main())
