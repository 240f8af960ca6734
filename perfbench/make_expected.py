#!/usr/bin/env python3
"""Records the expected result of every query a workload runs.

For each query listed in workloads.json, runs the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`) over the base tables of gen_data.py and stores its
row count and content hash (outputs.digest) in expected.json. The base
tables come from a fixed data seed, so this runs once, whenever the query
lists or the tables change; run.py then compares every run's engine output
against it.

Usage (from the root of a checkout): python3 perfbench/make_expected.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import outputs  # noqa: E402
from run import JDK_OPENS  # noqa: E402


def oracle_sql(classes, out):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
    subprocess.run(["java"] + opens + ["-cp", os.pathsep.join([classes, build.classpath_jars()]),
                    "perfbench.Main", "workload=oracle_sql", f"out={out}"], check=True)
    with open(out) as f:
        return json.load(f)


def main():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    data = os.path.join(build_dir, "data")
    gen_data.write(data)
    sql = oracle_sql(classes, os.path.join(build_dir, "oracle_sql.json"))
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    con = outputs.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected = {}
    for wl in spec["workloads"].values():
        for q, _ in wl.get("queries", []):
            if q not in sql:
                sys.exit(f"{q} has no oracle SQL; pick another query")
            n, h = outputs.digest(con, sql[q])
            expected[q] = {"rows": n, "hash": h}
            print(f"{q}: {n} rows {h}", file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"data_version": gen_data.DATA_VERSION, "queries": expected}, f,
                  indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
