"""Regenerate maxx_spark/golden.py — the literal expected outputs of the
non-SQL-expressible operators (extraction, MRO, inherited members,
shadowing dedup) over the deterministic generated pages corpus.

The driver's oracle for these queries is `SELECT ... FROM (VALUES ...)`,
which DuckDB runs without touching the relational tables; this upgrades the
weaker rows-only check to a full value-hash check. Re-run this script
whenever the extractor or generator changes:

    python tools/regen_golden.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = '''"""AUTO-GENERATED by tools/regen_golden.py — do not edit by hand.

Literal expected outputs of the extraction/inheritance operators over the
deterministic gen.py corpus (n_projects=2, n_filler=50, seed=42). Used by
__spark_entry__.oracle_sql() as VALUES-table oracles.
"""

'''


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def values_sql(rows: list[tuple], cols: list[str], types: list[str]) -> str:
    vals = ",\n  ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in zip(cols, types))
    return (
        f"SELECT {casts} FROM (VALUES\n  {vals}\n) AS t({', '.join(cols)}) "
        f"ORDER BY {', '.join(cols)}"
    )


def main() -> None:
    from maxx_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("regen-golden", master="local[8]")
    out = [HEADER]
    specs = {
        "q23_extract_units": (
            ["url", "unit_path", "kind", "name", "lineno", "endlineno", "doc_md5", "text_md5"],
            ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "BIGINT", "BIGINT", "VARCHAR", "VARCHAR"],
        ),
        "q24_class_mro": (
            ["host", "cls", "mro_pos", "ancestor"],
            ["VARCHAR", "VARCHAR", "BIGINT", "VARCHAR"],
        ),
        "q25_inherited_members": (
            ["host", "cls", "member_name", "member_kind", "defined_in", "inherited"],
            ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "BOOLEAN"],
        ),
        "q26_shadowing_dedup": (
            ["host", "unit_path", "kind", "url"],
            ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"],
        ),
        "q31_media_decode": (
            ["media_id", "kind", "width", "height", "sample_rate", "n_frames", "body_bytes"],
            ["BIGINT", "VARCHAR", "INTEGER", "INTEGER", "INTEGER", "INTEGER", "INTEGER"],
        ),
        "q32_frame_sample": (
            ["media_id", "n_frames", "frame_idx"],
            ["BIGINT", "INTEGER", "INTEGER"],
        ),
        "q33_searchpath": (
            ["host", "unit_path", "kind", "url"],
            ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"],
        ),
        "q34_glob_membership": (
            ["host", "url"],
            ["VARCHAR", "VARCHAR"],
        ),
        "q35_scope_resolution": (
            ["host", "scope_path", "name", "resolved_path", "resolved_level", "resolution"],
            ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "BIGINT", "VARCHAR"],
        ),
        "q37_builtin_doc_links": (
            ["host", "unit_path", "site", "expr", "builtin_name", "doc_url"],
            ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"],
        ),
        "q40_point_lookup": (
            ["host", "lookup", "unit_path", "kind", "url"],
            ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"],
        ),
    }
    qs = e.queries()
    for name, (cols, types) in specs.items():
        df = qs[name](spark, "/root/testdata/sf0.001")
        rows = [tuple(r) for r in df.collect()]
        sql = values_sql(rows, cols, types)
        out.append(f"{name.upper()}_SQL = {sql!r}\n\n")
        print(f"{name}: {len(rows)} golden rows")
    with open(os.path.join(REPO, "maxx_spark", "golden.py"), "w") as f:
        f.write("".join(out))
    spark.stop()
    print("wrote maxx_spark/golden.py")


if __name__ == "__main__":
    main()
