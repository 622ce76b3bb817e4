#!/usr/bin/env python3
"""Regenerate perfbench/refs/pipeline.json, the reference digests the
pipeline-batch output check compares against.

    python3 perfbench/make_refs.py [--program-output DIR]

Each query's reference is the digest of its DuckDB oracle
(graft.SparkEntry.oracleSql) over perfbench/data/sf0.1, canonicalized as
run.py canonicalizes the program's output. A query whose oracle fails or
runs past ORACLE_TIMEOUT_S takes its reference from the program's own output
instead (a pass directory written by a pipeline-batch run, e.g.
perfbench/target/work/pipeline-batch/pipeline-out/p0); the file records
the source of every reference.
"""
import argparse
import json
import os
import sys
import threading
import time

import duckdb

import run

ORACLE_TIMEOUT_S = 300
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--program-output")
    a = ap.parse_args()
    classpath = run.build()
    work = os.path.join(run.TARGET, "refs-work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "scratch"), exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    code, out = run.run_jvm(run.java_cmd(classpath, "perfbench.OracleSql", [sql_file], work), work)
    if code != 0:
        sys.stderr.write(out[-4000:])
        run.die("could not export the oracle SQL")
    with open(sql_file) as f:
        oracle = json.load(f)
    data = os.path.join(run.HERE, "data", "sf0.1")
    con = duckdb.connect()
    con.sql("SET threads=4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    refs = {}
    for q in sorted(q for q in oracle if oracle[q] is not None):
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        t0 = time.time()
        timer.start()
        try:
            digest, rows = run.canon_digest(con.sql(oracle[q]))
            refs[q] = {"digest": digest, "rows": rows, "source": "duckdb-oracle"}
            print(f"{q}: oracle {rows} rows in {time.time() - t0:.1f} s")
        except Exception as e:
            print(f"{q}: oracle unusable after {time.time() - t0:.1f} s ({str(e)[:120]})")
        finally:
            timer.cancel()
    missing = [q for q in sorted(oracle) if q not in refs]
    if missing:
        if not a.program_output:
            run.die(f"no oracle reference for {missing}; pass --program-output")
        for q in missing:
            digest, rows = run.parquet_digest(con, os.path.join(a.program_output, q))
            refs[q] = {"digest": digest, "rows": rows, "source": "program-output"}
            print(f"{q}: program output {rows} rows")
    os.makedirs(os.path.join(run.HERE, "refs"), exist_ok=True)
    with open(os.path.join(run.HERE, "refs", "pipeline.json"), "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
