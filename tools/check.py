#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify's
parquet dumps against the DuckDB oracle SQL and diff.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]

Registers each <sf_dir>/*.parquet as a DuckDB view named by file stem,
executes each oracle_sql.json entry, and compares with the Spark result
parquet: columns sorted by name, rows sorted, exact value compare
(floats compared bit-exactly via repr, which is what a hash-based
compare amounts to). Queries that threw inside graft.Verify are read
from <verify_out_dir>/failed.json and reported with their message.
"""
import json, os, sys
import duckdb
import pyarrow.parquet as pq


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    out.sort()
    return [c for c in sorted(cols)], out


def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for f in os.listdir(sfdir):
        if f.endswith('.parquet'):
            name = f[:-8].rstrip('.')
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sfdir}/{f}'")
    oracles = json.load(open(os.path.join(outdir, 'oracle_sql.json')))
    failed_path = os.path.join(outdir, 'failed.json')
    failed = json.load(open(failed_path)) if os.path.exists(failed_path) else {}
    n_ok = n_bad = 0
    for name, msg in sorted(failed.items()):
        if only and name not in only:
            continue
        print(f"FAILED   {name}: {msg}")
        n_bad += 1
    for name, sql in sorted(oracles.items()):
        if (only and name not in only) or name in failed:
            continue
        rdir = os.path.join(outdir, name)
        if not os.path.isdir(rdir):
            print(f"MISSING  {name} (no spark output)")
            n_bad += 1
            continue
        t = pq.read_table(rdir)
        scols = t.column_names
        srows = [tuple(row[c] for c in scols) for row in t.to_pylist()]
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"ORAFAIL  {name}: {e}")
            n_bad += 1
            continue
        sc, sr = canon(srows, scols)
        oc, orr = canon(orows, ocols)
        if sc != oc:
            print(f"COLS     {name}: spark={sc} oracle={oc}")
            n_bad += 1
        elif sr != orr:
            n_bad += 1
            print(f"ROWS     {name}: spark={len(sr)} oracle={len(orr)}")
            for a, b in list(zip(sr, orr))[:3]:
                if a != b:
                    print(f"  spark : {a}\n  oracle: {b}")
                    break
        else:
            n_ok += 1
            print(f"OK       {name} ({len(sr)} rows)")
    print(f"== {n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == '__main__':
    main()
