"""Per-query isolation profiler for the optimization rounds (guide §1).

NOT part of the frozen driver contract (bench.py is frozen); this harness
exists to (a) time individual queries with the exact bench methodology,
(b) dump .explain("formatted") plans to plans/<tag>/<query>_<suffix>.txt,
and (c) count the Spark jobs of each rep (``jobs`` in the query's JSON line,
next to ``times``) — so plan-shape claims in
OPTIMIZATION_r*.md are backed by committed artifacts.

Usage:
  python bench_extra.py [--reps N] [--plans DIR] [--suffix before] [q01_... ...]

With no query names, runs the full headline list from bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    args = [a for a in sys.argv[1:]]
    reps = 3
    plans_dir = None
    suffix = "before"
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--plans":
            plans_dir = args[i + 1]; i += 2
        elif a == "--suffix":
            suffix = args[i + 1]; i += 2
        else:
            names.append(a); i += 1

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as e
    from maxx_spark.session import get_spark

    spark = get_spark("maxx-bench-extra", master=f"local[{cpus}]")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    qs = e.queries()
    if not names:
        # the bench.py headline list (keep in sync manually; bench.py frozen)
        names = [n for n in qs if n.startswith("q") and n not in (
            "q04_order_priority", "q05_latest_event_per_user", "q15_lang_id",
            "q17_token_counts", "q22_label_centroids", "q23_extract_units",
            "q24_class_mro", "q25_inherited_members", "q26_shadowing_dedup",
            "q28_range_join_bands", "q32_frame_sample", "q33_searchpath",
            "q34_glob_membership", "q35_scope_resolution",
            "q37_builtin_doc_links", "q40_point_lookup",
        )]

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        times, jobs = [], []
        for rep in range(reps):
            # one job group per rep: SQL execution threads (broadcasts,
            # subqueries) inherit it, so the group holds every job of the rep
            group = f"profile:{name}:{rep}"
            sc.setJobGroup(group, f"profile:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.select(
                F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in df.columns])).alias("h")
            ).collect()
            times.append(round(time.perf_counter() - t0, 3))
            # the status store is fed by the listener bus: drain it first
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(tracker.getJobIdsForGroup(group)))
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
        out[name] = {"times": times, "min": min(times), "jobs": jobs}
        print(json.dumps({name: out[name]}), flush=True)
    total_min = round(sum(v["min"] for v in out.values()), 3)
    print(json.dumps({"metric": "isolated_min_total", "value": total_min, "n": len(out)}))
    spark.stop()


if __name__ == "__main__":
    main()
