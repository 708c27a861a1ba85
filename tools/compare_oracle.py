#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 tools/compare_oracle.py <verify_out_dir> <sf_dir>
       python3 tools/compare_oracle.py --types <verify_out_dir> <sf_dir>

For each <name>/ parquet dir in verify_out_dir, runs oracleSql[name]
(from oracle_sql.json) in DuckDB with views over sf_dir's parquet
tables, then compares: row count, sorted column names, and a hash of
the value matrix after sorting columns by name and rows by all columns.

--types runs ONLY the oracle output-type sweep (no Spark dumps read):
every oracle column's DuckDB type must be in ALLOWED_TYPES.  Anything
else (HUGEINT, DECIMAL, TIMESTAMP, INTEGER...) is a canonicalization
hazard: e.g. DuckDB types a raw sum(BIGINT) as HUGEINT, which the
Arrow/.df() path converts to float64 ("11757.0" vs "11757") — values
equal, driver hash flipped (the d_corpus_stats r03-r05 red row).  The
type check also runs inside the normal compare, so a local green gate
implies the sweep is clean.

Each result line is flushed as it is printed and ends with the seconds
the query took, so a slow or stuck oracle query shows while it runs.
"""
import json, sys, math, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The only types whose python/Arrow canonicalizations agree with their
# str() forms across duckdb versions and fetch paths.
ALLOWED_TYPES = {"BIGINT", "DOUBLE", "VARCHAR", "DATE"}


def type_violations(rel):
    return [(c, str(t)) for c, t in zip(rel.columns, rel.types)
            if str(t) not in ALLOWED_TYPES]


def say(line):
    print(line, flush=True)


def types_only(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            viol = type_violations(con.sql(sql))
        except Exception as e:
            say(f"FAIL {name}: error {str(e)[:200]}")
            bad += 1
            continue
        if viol:
            say(f"TYPE {name}: {viol}")
            bad += 1
    print(f"\ntype sweep: {len(oracle) - bad} ok, {bad} hazard, "
          f"allowed={sorted(ALLOWED_TYPES)}")
    sys.exit(1 if bad else 0)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return mat


def main():
    if sys.argv[1] == "--types":
        types_only(sys.argv[2], sys.argv[3])
        return
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = bad = 0
    for name, sql in sorted(oracle.items()):
        t0 = time.monotonic()

        def secs():
            return f"{time.monotonic() - t0:.2f} s"
        try:
            spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            s_cols = [c.lower() for c in spark_rel.columns]
            s_rows = spark_rel.fetchall()
            duck_rel = con.sql(sql)
            d_cols = [c.lower() for c in duck_rel.columns]
            d_types = type_violations(duck_rel)
            d_rows = duck_rel.fetchall()
        except Exception as e:
            say(f"FAIL {name}: error {str(e)[:200]} ({secs()})")
            bad += 1
            continue
        if d_types:
            say(f"FAIL {name}: type hazard {d_types} ({secs()})")
            bad += 1
            continue
        if sorted(s_cols) != sorted(d_cols):
            say(f"FAIL {name}: cols spark={sorted(s_cols)} duck={sorted(d_cols)} ({secs()})")
            bad += 1
            continue
        if len(s_rows) != len(d_rows):
            say(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)} ({secs()})")
            bad += 1
            continue
        sk = frame_key(s_rows, s_cols)
        dk = frame_key(d_rows, d_cols)
        if sk != dk:
            diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
            say(f"FAIL {name}: values differ, e.g. {diffs} ({secs()})")
            bad += 1
            continue
        say(f"ok   {name} ({len(s_rows)} rows, {secs()})")
        ok += 1
    # rows-only queries (no oracle)
    import os
    for name in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, name)
        if os.path.isdir(p) and name not in oracle:
            n = len(con.sql(f"SELECT * FROM '{p}/*.parquet'").fetchall())
            say(f"rows {name}: {n}")
    print(f"\n{ok} ok, {bad} fail, {len(oracle)} oracled")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
