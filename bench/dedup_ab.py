"""Interleaved A/B of the dedup bench rows between two checkouts.

Each run is a fresh process that executes the checkout's own
``bench._run_suite`` with every headline query except the dedup chain
(q12 -> q13 -> q44 -> q60 -> q63) replaced by a one-row stub and the
extraction block skipped, so it times exactly the dedup rows in bench order
followed by the ``dedup_shared_index`` block. Pairs alternate which
checkout runs first.

    python bench/dedup_ab.py PARENT_DIR CHANGE_DIR --sf SF_DIR \\
        [--pairs 5] [--cpus 4] [--out BENCH/dedup_ab.json]

Writes every raw run plus, per row, the medians, the parent's IQR and the
number of pairs the change won.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

DEDUP = ("q12_ngram_jaccard", "q13_minhash_lsh", "q44_dedup_clusters",
         "q60_dup_span_fraction", "q63_source_overlap")
ROWS = DEDUP + ("dedup_shared_index_build", "dedup_shared_index_total")


def _one_run(tree: str, sf_dir: str, cpus: str) -> dict:
    """Runs inside the child process, with ``tree`` first on sys.path."""
    sys.path.insert(0, tree)
    import bench
    import maxx_spark.gen
    import __spark_entry__ as e
    from maxx_spark.session import get_spark

    full = e.queries
    e.queries = lambda: {k: (v if k in DEDUP else (lambda s, d: s.range(1))) for k, v in full().items()}

    def _skip(*_a, **_k):
        raise RuntimeError("extraction block skipped by dedup_ab")

    maxx_spark.gen.generate_pages_df = _skip
    spark = get_spark("maxx-bench", master=f"local[{cpus}]")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    out = bench._run_suite(spark, sf_dir)
    spark.stop()
    return {k: out[k] for k in ROWS if k in out} | {"errors": {
        k: v for k, v in out.get("errors", {}).items() if k != "extract"}}


def _spawn(tree: str, sf_dir: str, cpus: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--run", tree, "--sf", sf_dir, "--cpus", cpus]
    res = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf", required=True, help="tables directory, e.g. the sf0.1 set")
    ap.add_argument("--cpus", default="4")
    ap.add_argument("--out")
    ap.add_argument("--run", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.run:
        print(json.dumps(_one_run(a.run, a.sf, a.cpus)))
        return
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = _spawn(getattr(a, side), a.sf, a.cpus)
            r["pair"], r["position"] = i, order.index(side)
            runs[side].append(r)
            print(side, i, {k: r.get(k) for k in ROWS}, file=sys.stderr)
    summary = {}
    for k in ROWS:
        p = [r[k] for r in runs["parent"]]
        c = [r[k] for r in runs["change"]]
        q1, q3 = _quartiles(p)
        summary[k] = {
            "parent_median": statistics.median(p),
            "change_median": statistics.median(c),
            "parent_iqr": [q1, q3],
            "change_wins": sum(ci < pi for pi, ci in zip(p, c)),
            "within_parent_iqr_or_better": statistics.median(c) <= q3,
        }
    doc = {"sf": a.sf, "cpus": a.cpus, "pairs": a.pairs, "summary": summary, "runs": runs}
    text = json.dumps(doc, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
