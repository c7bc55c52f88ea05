#!/usr/bin/env python3
"""Regenerate perfbench/expected/digests.json.

    python3 perfbench/gen_expected.py

For every query in SparkEntry.queries that is neither a lake scenario
(`l*`) nor excluded below, the expected digest is DuckDB's result of the
query's oracle SQL over perfbench/data/sf0.01, canonicalised by canon.py.
A query without oracle SQL, or whose engine result differs from its
oracle, is listed and the script exits 1: the engine is never checked
against itself.
Needs the `duckdb` Python package (1.0.0 generated the committed file).
"""
import glob
import json
import os
import re
import shutil
import sys

import duckdb

import canon
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def universe():
    """Query name -> defining object, read from the ops sources."""
    out = {}
    for path in sorted(glob.glob(os.path.join(run.ENGINE_SRC, "graft", "ops",
                                              "*.scala"))):
        obj = "ops." + os.path.basename(path)[:-len(".scala")]
        for m in re.finditer(r'QDef\(\s*"([a-z]+[0-9][a-z0-9_]*)"', open(path).read()):
            out[m.group(1)] = obj
    return {n: o for n, o in out.items() if not n.startswith("l")}


def main():
    names = universe()
    classpath, source_id = run.build()
    work = os.path.join(run.HERE, "work", "gen-expected")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inp = {"workload": "digests", "cores": run.CORES, "work_dir": work,
               "data_dir": run.DATA, "queries": sorted(names)}
        rec = run.run_jvm(classpath, inp, work, 3600)
        oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(run.DATA, t + '.parquet')}'")
    con.execute("SET TimeZone='UTC'")
    queries, bad = {}, []
    for o in rec["ops"]:
        n = o["name"]
        if not o["ok"]:
            bad.append((n, "engine error: " + o["err"]))
            continue
        if n not in oracle:
            bad.append((n, "no oracle SQL"))
            continue
        res = con.sql(oracle[n])
        d = canon.digest(list(res.columns), res.fetchall())
        if d != o["err"]:
            bad.append((n, "engine result differs from oracle"))
        queries[n] = {"object": names[n], "digest": d, "source": "duckdb"}
    out = {"data": os.path.relpath(run.DATA, run.ROOT), "engine_source_id": source_id,
           "duckdb": duckdb.__version__, "queries": queries}
    with open(run.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for n, why in bad:
        print(f"MISMATCH {n}: {why}")
    print(f"{len(queries)} digests from DuckDB, {len(bad)} mismatches")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
