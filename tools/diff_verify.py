#!/usr/bin/env python3
"""Compare two graft.Verify output dirs gate by gate.

Usage: python3 tools/diff_verify.py <parentOut> <changeOut>

oracle_sql.json is compared key by key, byte for byte. Each gate's result
parquet is compared by an md5 over its column names (in written order) and
its rows sorted by their repr, so row order does not count but every value,
type and column name does. Prints one line per difference and exits 1 if
there is any, else prints a one-line summary and exits 0.
"""
import hashlib
import json
import os
import sys

import duckdb


def gate_dirs(out):
    return sorted(d for d in os.listdir(out)
                  if os.path.isdir(os.path.join(out, d)))


def result_md5(path):
    rel = duckdb.sql(
        f"SELECT * FROM read_parquet('{path}/*.parquet')")
    rows = sorted(repr(r) for r in rel.fetchall())
    h = hashlib.md5(repr(rel.columns).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest(), len(rows)


def main(parent, change):
    diffs = []
    with open(os.path.join(parent, "oracle_sql.json"), encoding="utf-8") as f:
        sql_a = json.load(f)
    with open(os.path.join(change, "oracle_sql.json"), encoding="utf-8") as f:
        sql_b = json.load(f)
    for k in sorted(set(sql_a) | set(sql_b)):
        if k not in sql_b:
            diffs.append(f"oracle_sql {k}: missing in {change}")
        elif k not in sql_a:
            diffs.append(f"oracle_sql {k}: missing in {parent}")
        elif sql_a[k].encode() != sql_b[k].encode():
            diffs.append(f"oracle_sql {k}: text differs")
    gates_a, gates_b = set(gate_dirs(parent)), set(gate_dirs(change))
    for g in sorted(gates_a | gates_b):
        if g not in gates_b:
            diffs.append(f"gate {g}: missing in {change}")
        elif g not in gates_a:
            diffs.append(f"gate {g}: missing in {parent}")
        else:
            (ha, na), (hb, nb) = (result_md5(os.path.join(parent, g)),
                                  result_md5(os.path.join(change, g)))
            if ha != hb:
                diffs.append(f"gate {g}: rows differ ({na} -> {nb} rows)")
    for d in diffs:
        print(d)
    if not diffs:
        print(f"equal: {len(sql_a)} oracle queries, "
              f"{len(gates_a)} gate results")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
