#!/usr/bin/env python3
"""Driver-replica correctness check: run each oracle_sql in DuckDB over the
sf tables and compare (schema-insensitively) with the Spark parquet output.
Columns sorted by name; rows sorted; values normalized before hashing.
Each query's line ends with its wall seconds (oracle SQL plus compare)."""
import sys, os, json, glob, decimal, math, time
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
con.sql(f"SET threads={os.cpu_count()}")
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def norm(v):
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out

fails = 0
for name, sql in sorted(oracle.items()):
    t0 = time.monotonic()
    secs = lambda: f"[{time.monotonic() - t0:.1f} s]"
    try:
        duck = con.sql(sql)
        dcols, drows = duck.columns, duck.fetchall()
        spark = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        scols, srows = spark.columns, spark.fetchall()
        dc, dr = canon(dcols, drows)
        sc, sr = canon(scols, srows)
        if [c.lower() for c in dc] != [c.lower() for c in sc]:
            print(f"FAIL {name}: columns duck={dc} spark={sc} {secs()}"); fails += 1
        elif dr != sr:
            only_d = [r for r in dr if r not in sr][:3]
            only_s = [r for r in sr if r not in dr][:3]
            print(f"FAIL {name}: rows duck={len(dr)} spark={len(sr)} {secs()}")
            print(f"  duck-only: {only_d}\n  spark-only: {only_s}")
            fails += 1
        else:
            print(f"OK   {name}: {len(sr)} rows {secs()}")
    except Exception as e:
        print(f"ERR  {name}: {e} {secs()}"); fails += 1
print("RESULT:", "ALL OK" if fails == 0 else f"{fails} FAILURES")
sys.exit(1 if fails else 0)
