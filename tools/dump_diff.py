#!/usr/bin/env python3
"""Bit-diff two graft.Verify dump directories with DuckDB.

Usage: dump_diff.py <base_dir> <new_dir>

For every query subdir present in base, compares
`select * from parquet_scan('<dir>/<q>/*.parquet') order by all`
fetchall() equality (covers the no-oracle queries the oracle hash
compare cannot).  Also compares the two oracle_sql.json files as
maps, reporting added, removed and changed keys.  Exit 0 iff every
common query matches, the query sets are identical and the oracle
maps are equal.
"""
import json, sys, os
import duckdb


def oracle_diff(base, new):
    """Number of differing oracle_sql.json keys, each reported."""
    try:
        with open(os.path.join(base, "oracle_sql.json")) as f:
            ob = json.load(f)
        with open(os.path.join(new, "oracle_sql.json")) as f:
            on = json.load(f)
    except (OSError, ValueError) as e:
        print(f"oracle_sql.json: READ ERROR {e}")
        return 1
    added = sorted(set(on) - set(ob))
    removed = sorted(set(ob) - set(on))
    changed = sorted(k for k in set(ob) & set(on) if ob[k] != on[k])
    for tag, keys in (("ADDED", added), ("REMOVED", removed), ("CHANGED", changed)):
        if keys:
            print(f"oracle_sql.json {tag}: {keys}")
    bad = len(added) + len(removed) + len(changed)
    print(f"oracle_sql.json: {'DIFF in ' + str(bad) + ' keys' if bad else 'IDENTICAL'}"
          f" ({len(ob)} vs {len(on)} keys)")
    return bad


def rows(d, q):
    con = duckdb.connect()
    try:
        return con.execute(
            f"select * from parquet_scan('{d}/{q}/*.parquet') order by all"
        ).fetchall(), [c[0] for c in con.description]
    finally:
        con.close()


def main():
    base, new = sys.argv[1], sys.argv[2]
    bq = sorted(d for d in os.listdir(base) if os.path.isdir(os.path.join(base, d)))
    nq = sorted(d for d in os.listdir(new) if os.path.isdir(os.path.join(new, d)))
    bad = 0
    if bq != nq:
        only_b = set(bq) - set(nq)
        only_n = set(nq) - set(bq)
        print(f"QUERY SET MISMATCH: only_base={sorted(only_b)} only_new={sorted(only_n)}")
        bad += 1
    for q in bq:
        if q not in nq:
            continue
        try:
            rb, cb = rows(base, q)
            rn, cn = rows(new, q)
        except Exception as e:
            print(f"{q}: READ ERROR {e}")
            bad += 1
            continue
        if cb != cn:
            print(f"{q}: SCHEMA DIFF {cb} vs {cn}")
            bad += 1
        elif rb != rn:
            print(f"{q}: ROW DIFF ({len(rb)} vs {len(rn)} rows)")
            # show first divergence
            for i, (a, b) in enumerate(zip(rb, rn)):
                if a != b:
                    print(f"  first diff at row {i}: {a} vs {b}")
                    break
            bad += 1
    print(f"{'DIFF FOUND in ' + str(bad) + ' queries' if bad else 'IDENTICAL'}: {len(bq)} queries compared")
    bad += oracle_diff(base, new)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
