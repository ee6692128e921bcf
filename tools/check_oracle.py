#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate: run each oracle SQL in
DuckDB against bare-name views over the sf parquet tables, and compare
row-by-row (columns sorted by name) with the Spark parquet dumps produced by
`graft.Verify`. Usage: check_oracle.py <sfdir> <verify_out_dir>
Exits 1 unless every oracle matches."""
import json, math, sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = 0
    for name, sql in sorted(oracle.items()):
        try:
            odf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            continue
        try:
            sdf = con.sql(f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").df()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {str(e)[:200]}")
            continue
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            print(f"FAIL {name}: columns differ: oracle={ocols} spark={scols}")
            continue
        o = odf[ocols].values.tolist()
        s_rows = sdf[ocols].values.tolist()
        if len(o) != len(s_rows):
            print(f"FAIL {name}: rows differ: oracle={len(o)} spark={len(s_rows)}")
            continue
        bad = None
        for i, (orow, srow) in enumerate(zip(o, s_rows)):
            co, cs = [canon(x) for x in orow], [canon(x) for x in srow]
            if co != cs:
                bad = (i, co, cs)
                break
        if bad:
            i, co, cs = bad
            print(f"FAIL {name}: row {i} differs:\n  oracle={co}\n  spark ={cs}")
        else:
            print(f"OK   {name} ({len(o)} rows)")
            n_ok += 1
    print(f"== {n_ok}/{len(oracle)} queries match")
    return n_ok == len(oracle)

if __name__ == "__main__":
    sys.exit(0 if main(sys.argv[1], sys.argv[2]) else 1)
