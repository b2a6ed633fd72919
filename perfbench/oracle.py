#!/usr/bin/env python3
"""Recomputes perfbench/expected.json: for every workload query, the hash
of its DuckDB oracle result (`SparkEntry.oracleSql`) on the workload's own
fixture, in the canonical form run.py checks outputs with.

Each workload runs once through the harness's check pass first, because
the stream-bus oracles read the topic logs the engine writes under its
/tmp. Queries whose engine output differs from the oracle are listed.

Usage, from the root of a checkout: python3 perfbench/oracle.py [workload ...]
"""
import json
import os
import subprocess
import sys
import time

import duckdb

import run

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def oracle_hashes(cp, fx, queries):
    sqls = json.loads(subprocess.run(
        ["java", "-cp", cp, "graftbench.OracleSql", ",".join(queries)],
        check=True, capture_output=True, text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    name = os.path.basename(fx)
    private_tmp = os.path.join(run.RUN, "tmp") + "/"
    return {q: run.canon_hash(con.execute(
        sqls[q].replace("_sf0.01/", f"_{name}/").replace("'/tmp/", "'" + private_tmp)).df())
        for q in queries}


def main():
    path = os.path.join(run.HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    cp = run.classpath()
    mismatched = []
    for w in sys.argv[1:] or sorted(run.WORKLOADS):
        spec = run.WORKLOADS[w]
        fx = run.fixture(spec["fixture"])
        run.launch(cp, fx, 0, 1, 0, 0, spec["queries"], time.time() + 600)
        got = run.output_hashes(os.path.join(run.RUN, "out"), spec["queries"])
        want = oracle_hashes(cp, fx, spec["queries"])
        expected[w] = want
        for q in spec["queries"]:
            status = "ok" if got.get(q) == want[q] else "MISMATCH"
            print(f"{w} {q} {status} engine={got.get(q)} oracle={want[q]}")
            if status != "ok":
                mismatched.append(q)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(mismatched)} mismatched: {' '.join(mismatched)}")


if __name__ == "__main__":
    main()
