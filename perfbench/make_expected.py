#!/usr/bin/env python3
"""Recompute perfbench/expected.json: the expected row count and content
hash of every query the closed-loop workloads time.

    python3 perfbench/make_expected.py <engine-output-dir>...

Queries with registered oracle SQL are answered by DuckDB over the tables
in perfbench/data. Queries without it get a row-count check, the count
taken from the engine's output in one of the given run directories'
`check/` folders (a run's warm-up writes them). Run from the root of a
checkout after one run of each closed-loop workload.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import run  # noqa: E402


def main(run_dirs):
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        dump = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, "graft.perfbench.Main", "--dump-oracle", dump],
                       check=True, stdout=subprocess.DEVNULL)
        with open(dump) as f:
            oracle = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(run.DATA)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(run.DATA, name)}')")
    queries = {}
    for name, sql in sorted(oracle.items()):
        if sql:
            rows, h = canon.digest(con.execute(sql).df())
            queries[name] = {"rows": rows, "hash": h, "source": "duckdb oracle"}
            continue
        found = [os.path.join(d, "check", name) for d in run_dirs
                 if os.path.isdir(os.path.join(d, "check", name))]
        if not found:
            sys.exit(f"{name} has no oracle SQL and no engine output in {run_dirs}")
        rows, _ = canon.digest(canon.read_result(found[0]))
        queries[name] = {"rows": rows, "hash": None, "source": "engine row count"}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"data": "perfbench/data/sf0.1", "queries": queries}, f, indent=1)
        f.write("\n")
    print(f"{len(queries)} queries, "
          f"{sum(1 for q in queries.values() if q['hash'])} with oracle hashes")


if __name__ == "__main__":
    main(sys.argv[1:])
