"""Checks the roster results a run dumped against DuckDB.

Each oracled row is compared the way tools/compare_oracle.py compares
it (same column set, same row count, same canonical value matrix,
here reduced to a hash); that module's functions are reused as they
are.  A row without oracle SQL passes when it returns rows.
"""
import hashlib
import json
import os
import sys

import duckdb


def _compare_oracle(repo):
    sys.path.insert(0, os.path.join(repo, "tools"))
    import compare_oracle
    return compare_oracle


def canonical_hash(co, rows, cols):
    key = co.frame_key(rows, [c.lower() for c in cols])
    return hashlib.sha256(repr(key).encode()).hexdigest()


def check(repo, data_dir, dump_dir, roster):
    """{query: (ok, detail)} for every roster row."""
    co = _compare_oracle(repo)
    con = duckdb.connect()
    con.sql("SET threads = 2")
    for t in co.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(f"{dump_dir}/oracle_sql.json"))
    verdict = {}
    for name in roster:
        try:
            s_rel = con.sql(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'")
            s_cols, s_rows = s_rel.columns, s_rel.fetchall()
            if name not in oracle:
                verdict[name] = (len(s_rows) > 0, f"rows-only, {len(s_rows)} rows")
                continue
            d_rel = con.sql(oracle[name])
            hazards = co.type_violations(d_rel)
            d_cols, d_rows = d_rel.columns, d_rel.fetchall()
        except Exception as e:  # a missing dump or failing SQL is a mismatch
            verdict[name] = (False, f"error {str(e)[:200]}")
            continue
        if hazards:
            verdict[name] = (False, f"type hazard {hazards}")
        elif sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
            verdict[name] = (False, f"columns {sorted(s_cols)} vs {sorted(d_cols)}")
        elif len(s_rows) != len(d_rows):
            verdict[name] = (False, f"rows {len(s_rows)} vs {len(d_rows)}")
        elif canonical_hash(co, s_rows, s_cols) != canonical_hash(co, d_rows, d_cols):
            verdict[name] = (False, "values differ")
        else:
            verdict[name] = (True, f"oracle ok, {len(s_rows)} rows")
    con.close()
    return verdict
