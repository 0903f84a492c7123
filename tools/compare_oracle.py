"""Local mimic of the driver's correctness gate: run every queries() entry
via Spark and its oracle_sql() via DuckDB on the same sf dir, compare
row-count, column names/dtypes, and order-insensitive values.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
       python tools/compare_oracle.py --emit CORRECTNESS_local_r6.json \
           [--sfs /root/testdata/sf0.001,/root/testdata/sf0.01]

--emit writes a machine-checkable JSON artifact in the driver's
CORRECTNESS_r{N} shape (one record per query per sf dir) so the full
61-query green is committed in-repo even when the driver's harness samples
a subset (VERDICT r5 item 2).
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(np.float64)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype(np.int64)
        else:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def run_sf(spark, e, sf_dir: str, only: set[str]) -> tuple[dict, list[str]]:
    """Compare every (selected) query against its oracle at one sf dir.

    Returns (records, failed): records mirrors the driver's CORRECTNESS
    per-query shape — rows/schema/hash match booleans, row counts, err.
    """
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = e.queries(), e.oracle_sql()
    records: dict = {}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        records[name] = rec
        try:
            sdf = fn(spark, sf_dir).toPandas()
            rec["spark_rows"] = len(sdf)
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            rec["err"] = f"spark: {str(ex).splitlines()[0][:300]}"
            failed.append(name)
            continue
        if name not in osql:
            print(f"OK?  {name}: rows-only check, {len(sdf)} rows")
            rec["err"] = "rows_only: no oracle_sql entry"
            continue
        try:
            odf = con.execute(osql[name]).fetchdf()
            rec["oracle_rows"] = len(odf)
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex).splitlines()[0]}")
            rec["err"] = f"duckdb: {str(ex).splitlines()[0][:300]}"
            failed.append(name)
            continue
        rec["rows_match"] = len(sdf) == len(odf)
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            rec["schema_match"] = False
            failed.append(name)
            continue
        a, b = canon(sdf), canon(odf)
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failed.append(name)
            continue
        eq = True
        for c in a.columns:
            if a[c].dtype == np.float64:
                ok = np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=0, atol=0, equal_nan=True)
                exact = ok
                close = np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=1e-12, atol=1e-12, equal_nan=True)
                if not exact:
                    eq = False
                    print(f"  {name}.{c}: exact={exact} close={close}")
            else:
                if not a[c].equals(b[c]):
                    eq = False
                    bad = (a[c] != b[c])
                    print(f"  {name}.{c}: {int(bad.sum())} mismatches, e.g. {a[c][bad].head(3).tolist()} vs {b[c][bad].head(3).tolist()}")
        dt_a, dt_b = dict(sdf.dtypes.astype(str)), dict(odf.dtypes.astype(str))
        # Declared dtype equivalences: pandas materializes Spark timestamps
        # as ns and DuckDB's as us — same instants, different unit. Anything
        # else that differs is a genuine schema mismatch and FAILS here
        # (CLAUDE.md invariant: dtypes must match the oracle exactly).
        _ts = ("datetime64[ns]", "datetime64[us]")
        real_diff = {
            k: (dt_a[k], dt_b.get(k))
            for k in dt_a
            if dt_a[k] != dt_b.get(k)
            and not (dt_a[k] in _ts and dt_b.get(k) in _ts)
        }
        rec["schema_match"] = not real_diff
        if real_diff:
            eq = False
            print(f"  {name}: dtype mismatch {real_diff}")
        rec["hash_match"] = eq
        if eq:
            print(f"PASS {name}: {len(a)} rows")
        else:
            print(f"FAIL {name}: value mismatch")
            failed.append(name)
    con.close()
    return records, failed


def main() -> int:
    argv = sys.argv[1:]
    emit = None
    sfs = None
    if "--emit" in argv:
        i = argv.index("--emit")
        emit = argv[i + 1]
        del argv[i : i + 2]
    if "--sfs" in argv:
        i = argv.index("--sfs")
        sfs = argv[i + 1].split(",")
        del argv[i : i + 2]
    if sfs is None:
        sfs = [argv[0] if argv else "/root/testdata/sf0.001"]
        argv = argv[1:]
    only = set(argv)

    import __spark_entry__ as e
    from maxx_spark.session import get_spark

    spark = get_spark("oracle-compare", master="local[8]")
    all_failed = []
    out: dict = {"tool": "tools/compare_oracle.py", "results": {}}
    for sf_dir in sfs:
        print(f"== sf dir: {sf_dir}")
        records, failed = run_sf(spark, e, sf_dir, only)
        out["results"][sf_dir] = records
        all_failed.extend(f"{sf_dir}:{q}" for q in failed)
    n_q = max(len(r) for r in out["results"].values())
    out["queries_total"] = n_q
    out["all_pass"] = not all_failed
    print("\n==", "ALL PASS" if not all_failed else f"FAILED: {all_failed}")
    if emit:
        with open(emit, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"wrote {emit} ({n_q} queries x {len(sfs)} sf dirs)")
    spark.stop()
    return 1 if all_failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
