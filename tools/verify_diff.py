#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps entry by entry.

Usage: python3 tools/verify_diff.py <verifyOutA> <verifyOutB> [entry ...]

For each entry (default: every entry directory either dump holds) reads
<dump>/<entry>/*.parquet from both sides and compares: row count, column
names (in order), and rows after canonical sorting (`canon` from
oracle_check.py), with floats compared bitwise (an ulp or a -0.0 counts as
a difference). Entries without an oracle (e.g. `dedup_minhash_prod`) are
compared like any other: no oracle SQL is read. Prints one SAME/DIFF line
per entry and exits 1 if any entry differs or is missing on either side.

Dev tool only (driver-side python stack) - not part of the shipped engine.
"""
import glob
import os
import struct
import sys

import duckdb

from oracle_check import canon


def entries_of(out_dir):
    return {os.path.basename(os.path.dirname(f))
            for f in glob.glob(f"{out_dir}/*/*.parquet")}


def read(con, out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
    return [d[0] for d in cur.description], cur.fetchall()


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return struct.pack(">d", a) == struct.pack(">d", b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def diff(con, dir_a, dir_b, name):
    """None when the entry matches, else the reason it does not."""
    a, b = read(con, dir_a, name), read(con, dir_b, name)
    if a is None or b is None:
        return "no parquet in " + " and ".join(
            d for d, r in ((dir_a, a), (dir_b, b)) if r is None)
    (cols_a, rows_a), (cols_b, rows_b) = a, b
    if cols_a != cols_b:
        return f"columns {cols_a} vs {cols_b}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} vs {len(rows_b)}"
    for i, (ra, rb) in enumerate(zip(canon(rows_a), canon(rows_b))):
        if not same(ra, rb):
            return f"row {i} (canonical order): {ra} vs {rb}"
    return None


def main():
    if len(sys.argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(entries_of(dir_a) | entries_of(dir_b))
    con = duckdb.connect()
    n_diff = 0
    for name in names:
        why = diff(con, dir_a, dir_b, name)
        if why is None:
            print(f"SAME {name}")
        else:
            print(f"DIFF {name}: {why}")
            n_diff += 1
    print(f"{len(names) - n_diff}/{len(names)} entries equal")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
