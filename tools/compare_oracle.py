"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables;
compare row count, column names, and order-insensitive values.

Usage: python tools/compare_oracle.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # guard final-ulp: queries round explicitly; this is belt+braces
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def df_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as entrymod
    from frontier_engine.session import get_spark

    spark = get_spark(cores=8, driver_memory="10g", app="compare_oracle")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_rows = sdf.collect()
            s_cols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            drel = con.sql(os_[name])
            d_cols = list(drel.columns)
            d_rows = drel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        sc, sv = df_rows(s_cols, [tuple(r) for r in s_rows])
        dc, dv = df_rows(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL  {name}: columns {sc} != {dc}")
            n_fail += 1
        elif len(sv) != len(dv):
            print(f"FAIL  {name}: rows {len(sv)} != {len(dv)}")
            n_fail += 1
        elif sv != dv:
            bad = next(i for i, (a, b) in enumerate(zip(sv, dv)) if a != b)
            print(f"FAIL  {name}: values differ at sorted-row {bad}:")
            print(f"      spark: {sv[bad]}")
            print(f"      duck : {dv[bad]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sv)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
