"""Compare two table sets column by column.

    python3 perfbench/fidelity.py <generated_dir> <reference_dir>

For every `<table>.parquet` in both directories prints the row counts,
and per column the physical type, null share, distinct count, min, max,
mean (numbers, timestamps as epoch seconds; strings by length) and the
three most common values, generated first, reference second. Lines whose
statistics differ by more than 10 % are marked `!`. Exits non-zero if
any table or column differs in type or is missing.
"""
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq


def profile(con, path):
    schema = pq.read_schema(path)
    n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    cols = {}
    for field in schema:
        c = f'"{field.name}"'
        t = str(field.type)
        if t.startswith("list"):
            expr = f"len({c})"
        elif t == "string":
            expr = f"length({c})"
        elif t.startswith("timestamp"):
            expr = f"epoch({c})"
        else:
            expr = f"{c}::DOUBLE"
        nulls, distinct, lo, hi, mean = con.execute(
            f"SELECT count(*) - count({c}), approx_count_distinct({c}), min({expr}), "
            f"max({expr}), avg({expr}) FROM read_parquet('{path}')").fetchone()
        top = ""
        if not t.startswith("list") and distinct is not None and distinct < 0.5 * n:
            top = ", ".join(f"{v}:{k / n:.3f}" for v, k in con.execute(
                f"SELECT {c}, count(*) k FROM read_parquet('{path}') GROUP BY 1 "
                f"ORDER BY 2 DESC, 1 LIMIT 3").fetchall())
        cols[field.name] = (t, nulls / max(n, 1), distinct, lo, hi, mean, top)
    return n, cols


def differs(a, b):
    if a is None or b is None:
        return a is not b
    return abs(a - b) > 0.1 * max(abs(a), abs(b), 1e-9)


def main(gen_dir, ref_dir):
    con = duckdb.connect()
    bad = 0
    for ref in sorted(glob.glob(os.path.join(ref_dir, "*.parquet"))):
        name = os.path.basename(ref)
        gen = os.path.join(gen_dir, name)
        if not os.path.exists(gen):
            print(f"! {name}: missing")
            bad += 1
            continue
        gn, gc = profile(con, gen)
        rn, rc = profile(con, ref)
        print(f"{'!' if differs(gn, rn) else ' '} {name}: rows {gn} / {rn}")
        for col, r in rc.items():
            g = gc.get(col)
            if g is None or g[0] != r[0]:
                print(f"!   {col}: type {g and g[0]} / {r[0]}")
                bad += 1
                continue
            mark = "!" if any(differs(x, y) for x, y in zip(g[1:6], r[1:6])) else " "
            fmt = lambda s: (f"null {s[1]:.3f} distinct {s[2]} min {s[3]:.6g} "
                             f"max {s[4]:.6g} mean {s[5]:.6g}  [{s[6]}]")
            print(f"{mark}   {col} ({r[0]})\n      gen {fmt(g)}\n      ref {fmt(r)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
