#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query, e.g. a change's
outputs against its parent commit's on the same sf tables.

For every query dir on either side it checks that the dir exists on both
sides, that the column names and row counts match, and that DuckDB's
EXCEPT ALL is empty both ways (a multiset compare: duplicates count).
Exits 1 on any difference, 0 when every query's output is identical.

Usage: python3 scripts/compare_outputs.py <verifyOutA> <verifyOutB>
"""
import os
import sys

import duckdb


def query_dirs(out_dir: str) -> set:
    return {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}


def compare(con, a: str, b: str) -> str:
    """Empty string if the parquet dirs a and b hold the same rows."""
    scan = "read_parquet('{}/**/*.parquet')"
    con.sql(f"create or replace view qa as select * from {scan.format(a)}")
    con.sql(f"create or replace view qb as select * from {scan.format(b)}")
    cols_a, cols_b = con.sql("select * from qa").columns, con.sql("select * from qb").columns
    if cols_a != cols_b:
        return f"columns {cols_a} vs {cols_b}"
    n_a, n_b = (con.sql(f"select count(*) from {v}").fetchone()[0] for v in ("qa", "qb"))
    if n_a != n_b:
        return f"rows {n_a} vs {n_b}"
    only_a, only_b = (con.sql(f"select count(*) from (select * from {x} except all "
                              f"select * from {y})").fetchone()[0]
                      for x, y in (("qa", "qb"), ("qb", "qa")))
    if only_a or only_b:
        return f"{only_a} rows only in A, {only_b} rows only in B ({n_a} rows each)"
    return ""


def main(out_a: str, out_b: str) -> int:
    con = duckdb.connect()
    dirs_a, dirs_b = query_dirs(out_a), query_dirs(out_b)
    n_same = n_diff = 0
    for name in sorted(dirs_a | dirs_b):
        if name not in dirs_a or name not in dirs_b:
            print(f"DIFF {name}: missing in {'A' if name not in dirs_a else 'B'}")
            n_diff += 1
            continue
        try:
            why = compare(con, os.path.join(out_a, name), os.path.join(out_b, name))
        except Exception as e:  # noqa: BLE001
            why = f"error: {e}"
        if why:
            print(f"DIFF {name}: {why}")
            n_diff += 1
        else:
            print(f"SAME {name}")
            n_same += 1
    print(f"\n{n_same} same / {n_diff} differ")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
