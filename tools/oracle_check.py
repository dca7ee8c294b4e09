#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle gate (optimization round):
run graft.Verify into OUTDIR, then compare every query's parquet dump
against its oracle SQL executed by DuckDB over the raw sf tables. An
oracle entry with no result dir is MISSING and fails the check.
Usage: oracle_check.py SFDIR OUTDIR [only,names]"""
import duckdb, glob, json, os, sys

sf, out = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in glob.glob(os.path.join(sf, '*.parquet')):
    name = os.path.basename(t).replace('.parquet', '')
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
oracle = json.load(open(os.path.join(out, 'oracle_sql.json')))
fails = ok = skipped = 0
for d in sorted(os.listdir(out)):
    path = os.path.join(out, d)
    if not os.path.isdir(path):
        continue
    if only and d not in only:
        continue
    spark_glob = os.path.join(path, '*.parquet')
    if d not in oracle:
        n = con.execute(f"SELECT count(*) FROM read_parquet('{spark_glob}')").fetchone()[0]
        print(f"{d:24s} NO_ORACLE rows={n}")
        skipped += 1
        continue
    try:
        con.execute(f"CREATE OR REPLACE VIEW __s AS SELECT * FROM read_parquet('{spark_glob}')")
        con.execute(f"CREATE OR REPLACE VIEW __o AS ({oracle[d]})")
        ns = con.execute("SELECT count(*) FROM __s").fetchone()[0]
        no = con.execute("SELECT count(*) FROM __o").fetchone()[0]
        cs = [r[0] for r in con.execute("DESCRIBE __s").fetchall()]
        co = [r[0] for r in con.execute("DESCRIBE __o").fetchall()]
        diff = con.execute(
            "SELECT count(*) FROM ((SELECT * FROM __s EXCEPT ALL SELECT * FROM __o)"
            " UNION ALL (SELECT * FROM __o EXCEPT ALL SELECT * FROM __s))").fetchone()[0]
        good = ns == no and cs == co and diff == 0
        print(f"{d:24s} {'OK' if good else 'FAIL'} rows={ns}/{no} diff={diff}"
              + ("" if cs == co else f" cols {cs} vs {co}"))
        ok += good
        fails += (not good)
    except Exception as e:
        print(f"{d:24s} ERR {e}")
        fails += 1
for d in sorted(oracle):
    if (only is None or d in only) and not os.path.isdir(os.path.join(out, d)):
        print(f"{d:24s} MISSING no spark result dir")
        fails += 1
print(f"== ok={ok} fail={fails} no_oracle={skipped}")
sys.exit(1 if fails else 0)
