#!/usr/bin/env python3
"""Value-compare two graft.Verify output directories.

Usage: python3 tools/same_outputs.py <verifyDirA> <verifyDirB>

For every query directory (one per registry key) in either side, reads
the parquet rows with DuckDB and requires the same column names and the
same rows in the same order, values exactly (NaN equals NaN, -0.0 differs
from 0.0). Keys present on one side only count as differences. Prints
one line per differing key and a summary; exits 1 on any difference.
"""
import math
import pathlib
import sys

import duckdb


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == 0.0 and b == 0.0:
            return math.copysign(1.0, a) == math.copysign(1.0, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(same_value, a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    return a == b


def rows(con, qdir):
    """(column names, rows) of a query directory; no files is no rows."""
    if not any(qdir.glob("*.parquet")):
        return [], []
    cur = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
    return [c[0] for c in cur.description], cur.fetchall()


def main(a, b):
    a, b = pathlib.Path(a), pathlib.Path(b)
    keys = lambda d: {p.name for p in d.iterdir() if p.is_dir()}
    ka, kb = keys(a), keys(b)
    con = duckdb.connect()
    bad = [f"{k}: only in {a if k in ka else b}" for k in sorted(ka ^ kb)]
    for k in sorted(ka & kb):
        ca, ra = rows(con, a / k)
        cb, rb = rows(con, b / k)
        if ca != cb:
            bad.append(f"{k}: columns {ca} != {cb}")
        elif len(ra) != len(rb):
            bad.append(f"{k}: {len(ra)} rows != {len(rb)}")
        elif not all(same_value(x, y) for x, y in zip(ra, rb)):
            bad.append(f"{k}: values differ")
    for line in bad:
        print(line)
    print(f"same_outputs: {len(ka & kb)} keys compared, {len(bad)} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
