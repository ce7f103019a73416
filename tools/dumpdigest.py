#!/usr/bin/env python3
"""Content digests of a graft.Verify dump (dev tool only).

Prints one SHA-256 per dumped entry over its canonicalized parquet
content, then the SHA-256 of oracle_sql.json's bytes, one
"<digest>  <name>" line each, sorted by name. The canonical form is the
one tools/localverify.py compares: columns sorted by name, rows sorted.
Rows are sorted by their serialized form, so the digest depends on
neither the parquet file layout nor how a sort breaks ties, and works
for any column type. Doubles are compared by their IEEE bits, so -0.0
differs from 0.0.

Two dumps hold the same outputs when the printed lines are equal:

  python3 tools/dumpdigest.py <dumpA> > a.txt
  python3 tools/dumpdigest.py <dumpB> > b.txt
  diff a.txt b.txt

Usage: python3 tools/dumpdigest.py <verifyOutDir>
"""
import hashlib
import json
import math
import os
import sys

import duckdb


def norm(v):
    """A JSON-serializable value that identifies v exactly."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float.hex(v)
    if v is None or isinstance(v, (bool, int, str)):
        return v
    # other types (today's dumps have none) by their exact str form
    return "s:" + str(v)


def entry_digest(con, path):
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    cols, types = rel.columns, [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(json.dumps([norm(r[i]) for i in order])
                  for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(json.dumps([[cols[i], types[i]] for i in order]).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def main(out_dir):
    con = duckdb.connect()
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        try:
            print(f"{entry_digest(con, path)}  {name}")
        except Exception as e:
            print(f"unreadable({type(e).__name__})  {name}")
    with open(os.path.join(out_dir, "oracle_sql.json"), "rb") as f:
        print(f"{hashlib.sha256(f.read()).hexdigest()}  oracle_sql.json")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
