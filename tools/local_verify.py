#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/local_verify.py [sfDir] [outDir] [filter]

`filter` is graft.Verify's optional third argument: comma-separated
substrings of gate names. When given, only the gates whose name contains
one of them are checked and counted, so a filtered Verify run reads as
"N pass, 0 fail" instead of failing every gate it did not write.

Reads outDir/<name>/ (spark parquet written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle against DuckDB views over the
sfDir parquet tables, and compares: row count, column names, and
sorted-row value equality (exact; doubles compared to 1e-12 relative just
for DIAGNOSTIC claritythe real driver may be stricter, so aim for exact).
"""
import sys, os, json, glob, math
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = sys.argv[3].split(",") if len(sys.argv) > 3 else None


def selected(name):
    return only is None or any(part in name for part in only)

con = duckdb.connect()
for f in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(rows, cols):
    # sort columns by name, then rows by stringified values (mimic driver)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    def key(t):
        return tuple("\0NULL" if v is None else str(v) for v in t)
    return sorted(out, key=key), [cols[i] for i in order]

def eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == b:
            return True
        return abs(a - b) <= 1e-12 * max(abs(a), abs(b), 1.0)
    return str(a) == str(b)

n_pass = n_fail = 0
for name in sorted(n for n in oracle if selected(n)):
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        print(f"FAIL {name}: spark result missing")
        n_fail += 1
        continue
    try:
        # fetchdf (pandas), NOT fetchall: the driver compares through
        # pandas, where e.g. DuckDB HUGEINT (sum of BIGINT!) lands as
        # float64 and stringifies differently from Spark's int64 — the
        # q131/r5 lesson. This path must see what the driver sees.
        s_cur = con.execute(f"SELECT * FROM '{spark_path}/*.parquet'")
        s_desc = list(s_cur.description or [])
        s_pd = s_cur.fetchdf()
        s_cols = list(s_pd.columns)
        s_rows = [tuple(r) for r in s_pd.itertuples(index=False, name=None)]
        o_cur = con.execute(oracle[name])
        o_desc = list(o_cur.description or [])
        o_pd = o_cur.fetchdf()
        o_cols = list(o_pd.columns)
        o_rows = [tuple(r) for r in o_pd.itertuples(index=False, name=None)]
        # Type-leak tripwire: fetchdf deliberately mirrors the driver's
        # pandas blind spot (HUGEINT / nullable ints degrade to float64,
        # where values beyond 2^53 can spuriously compare equal). Surface
        # every such degradation so a q131/r5-style oracle type leak stays
        # VISIBLE even while the value compare passes.
        for side, desc, pd_frame in (("spark", s_desc, s_pd),
                                     ("oracle", o_desc, o_pd)):
            for d in desc:
                cname, ctype = d[0], str(d[1]).upper()
                if cname in pd_frame.columns \
                        and any(t in ctype for t in
                                ("INT", "DECIMAL", "NUMERIC")) \
                        and str(pd_frame[cname].dtype) == "float64":
                    print(f"WARN {name}: {side} column {cname} degraded "
                          f"{ctype} -> float64 in pandas (exact integer "
                          f"compare not guaranteed beyond 2^53)")
    except Exception as e:
        print(f"FAIL {name}: {str(e).splitlines()[0][:200]}")
        n_fail += 1
        continue
    if sorted(s_cols) != sorted(o_cols):
        print(f"FAIL {name}: cols spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        n_fail += 1
        continue
    if len(s_rows) != len(o_rows):
        print(f"FAIL {name}: rows spark={len(s_rows)} oracle={len(o_rows)}")
        n_fail += 1
        continue
    s_canon, cols = canon(s_rows, s_cols)
    o_canon, _ = canon(o_rows, o_cols)
    bad = None
    exact = True
    for i, (sr, orr) in enumerate(zip(s_canon, o_canon)):
        for j, (a, b) in enumerate(zip(sr, orr)):
            if not eq(a, b):
                bad = (i, cols[j], a, b)
                break
            if a != b and not (a is None and b is None):
                if not (isinstance(a, float) and isinstance(b, float)
                        and (a == b or (math.isnan(a) and math.isnan(b)))):
                    exact = False
        if bad:
            break
    if bad:
        print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}")
        n_fail += 1
    else:
        note = "" if exact else " (float-tolerance only)"
        print(f"PASS {name}: {len(s_rows)} rows{note}")
        n_pass += 1

# queries without an oracle: rows-only
for d in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(d.rstrip("/"))
    if name in oracle or not selected(name):
        continue
    try:
        n = con.execute(f"SELECT count(*) FROM '{d}*.parquet'").fetchone()[0]
        print(f"ROWS {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
    except Exception as e:
        print(f"ROWS {name}: unreadable: {e}")

print(f"\n{n_pass} pass, {n_fail} fail")
sys.exit(1 if n_fail else 0)
