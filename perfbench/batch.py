"""Batch path: one cold pass over a fixed list of oracle-checked queries
from ``__spark_entry__.queries()``, in bench order, over seeded tables.

Each query is timed from its ``queries()[name]`` call (driver-side build)
to the end of ``toPandas()``, which materializes every output column.
``check`` runs the DuckDB oracle afterwards, outside the clock."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

# the cold-floor target whose bounded top-k rewrite is planned (per-brand
# top-k over lineitem x part); one query, because a whole run must fit in
# about a minute
QUERIES = ("q03_top_parts_by_brand",)
SF = 0.01
TS_DTYPES = ("datetime64[ns]", "datetime64[us]")  # same instants, different unit


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from the oracle's ``want`` (None when equal):
    columns, dtypes, row count, then exact values in canonical order."""
    from tools.compare_oracle import canon

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    dtypes = {c: (str(got[c].dtype), str(want[c].dtype)) for c in got.columns}
    bad = {c: d for c, d in dtypes.items() if d[0] != d[1] and not set(d) <= set(TS_DTYPES)}
    if bad:
        return f"dtypes {bad}"
    a, b = canon(got), canon(want)
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        same = (np.array_equal(x, y, equal_nan=True) if a[c].dtype == np.float64
                else bool((x == y).all()))
        if not same:
            return f"values differ in column {c}"
    return None


def run(spark, work: str, seed: int, skew: bool, tracer, ledger=None) -> dict:
    import __spark_entry__ as entry
    from perfbench.inputs import write_tables

    tables = os.path.join(work, "tables")
    write_tables(tables, seed, SF, skew)
    qs = entry.queries()
    results: dict[str, pd.DataFrame] = {}
    per_query: dict[str, dict] = {}
    failed: list[str] = []
    with tracer.span("batch_queries"):
        for name in QUERIES:
            with tracer.span("query", query=name):
                if ledger:
                    ledger.before(name)
                try:
                    t0 = time.perf_counter()
                    with tracer.span("build"):
                        df = qs[name](spark, tables)
                    t1 = time.perf_counter()
                    with tracer.span("run"):
                        results[name] = df.toPandas()
                    t2 = time.perf_counter()
                except Exception as ex:  # a failing query is a failed op
                    failed.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
                    continue
                per_query[name] = {"build_s": t1 - t0, "run_s": t2 - t1}
                if ledger:
                    ledger.after(name, df)
    return {
        "tables": tables,
        "results": results,
        "failed": failed,
        "queries_s": sum(v["build_s"] + v["run_s"] for v in per_query.values()),
        "per_query": per_query,
        "traffic": {"queries": len(QUERIES), "sf": SF},
    }


def corrupt(r: dict) -> None:
    """Self-test hook: lose one row of every result."""
    for name, df in r["results"].items():
        r["results"][name] = df.iloc[1:]


def check(r: dict) -> list[str]:
    """Each query's result against its DuckDB oracle over the same tables."""
    import duckdb

    import __spark_entry__ as entry
    from tools.compare_oracle import TABLES

    failures = list(r["failed"])
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{r['tables']}/{t}.parquet'")
        oracle = entry.oracle_sql()
        for name, got in r["results"].items():
            why = mismatch(got, con.execute(oracle[name]).fetchdf())
            if why:
                failures.append(f"{name}: oracle mismatch: {why}")
    finally:
        con.close()
    return failures
