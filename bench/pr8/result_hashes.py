"""Order-insensitive content hash of every query result that graft.Verify wrote.

Usage: python3 bench/pr8/result_hashes.py <verify out dir>
Prints one line per query key: name, row count, md5 of the sorted row reprs.
"""
import hashlib
import os
import sys

import duckdb

d = sys.argv[1]
con = duckdb.connect()
for k in sorted(os.listdir(d)):
    p = os.path.join(d, k)
    if not os.path.isdir(p):
        continue
    try:
        rows = con.execute(f"SELECT * FROM read_parquet('{p}/*.parquet')").fetchall()
        h = hashlib.md5("\n".join(sorted(repr(r) for r in rows)).encode()).hexdigest()
        print(k, len(rows), h)
    except Exception as e:
        print(k, "ERR", str(e)[:60])
