#!/usr/bin/env python3
"""Recomputes perfbench/oracle_hashes.json: for each query_mix query, the
row count and hash of the DuckDB oracle's output over the benchmark's sf0.1
dataset (perfbench/gen.py, fixed data seed), after checking that the
program's output hashes the same (the row-by-row compare of
tools/check_oracle.py, as a hash).

    python3 perfbench/oracle.py [query ...]

With no names, the file is rebuilt for the queries in spec.json; with names,
only their entries are replaced. A query whose program output differs from
its oracle is reported and left out of the file.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

import gen
import run

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main(names):
    cfg = run.SPEC["workloads"]["query_mix"]
    update = bool(names)
    names = names or cfg["queries"]
    work = run.HERE / "work" / "oracle"
    shutil.rmtree(work, ignore_errors=True)
    (work / "input").mkdir(parents=True)
    try:
        gen.sf_dataset(cfg["data_seed"], str(work / "input"))
        cmd = (["java", run.HEAP, f"-Djava.io.tmpdir={work}"] + run.JVM_OPENS
               + ["-cp", run.classpath(), "perfbench.OracleDump", str(work / "input"),
                  str(work / "out"), str(os.cpu_count() or 1)] + list(names))
        subprocess.run(cmd, check=True, stdout=sys.stderr)
        dump = json.loads((work / "out" / "oracle.json").read_text())
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/input/{t}.parquet')")
        path = run.HERE / "oracle_hashes.json"
        kept = json.loads(path.read_text())["queries"] if path.exists() and update else {}
        for name in names:
            oracle = run.output_hash(con, dump["sql"][name])
            spark = run.output_hash(
                con, f"SELECT * FROM read_parquet('{work}/out/{name}/*.parquet')")
            secs = dump["seconds"][name]
            if oracle == spark:
                kept[name] = {"rows": oracle[0], "sha256": oracle[1]}
                print(f"OK   {name:32s} {oracle[0]:7d} rows {secs:7.3f} s")
            else:
                kept.pop(name, None)
                print(f"FAIL {name:32s} oracle {oracle} program {spark}")
        path.write_text(json.dumps({"data_seed": cfg["data_seed"],
                                    "queries": dict(sorted(kept.items()))}, indent=1) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
