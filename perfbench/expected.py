#!/usr/bin/env python3
"""Regenerates perfbench/expected_rows.json, the row count every entry
must return on the benchmark's data.

Usage (from the repository root): python3 perfbench/expected.py

For an entry with an oracle, the count is DuckDB's count(*) over
SparkEntry.oracleSql on the same parquet files; for the others
("no_oracle") it is the count the current tree returns. Entries whose
tree count differs from the oracle are listed, not dropped: the
benchmark then counts them as failed.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    classpath, _ = run.build()
    os.makedirs(run.OUT, exist_ok=True)
    state = tempfile.mkdtemp(prefix="expected-", dir=run.OUT)
    dump = os.path.join(state, "dump.json")
    shm_before = set(run.list_shm())
    try:
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(state, d))
        cmd = run.java_cmd(classpath, f"{state}/tmp", "perfbench.Dump") + [
            "--sf", run.SF_DIR, "--out", dump,
            "--local", f"{state}/local", "--warehouse", f"{state}/warehouse"]
        subprocess.run(cmd, cwd=state, check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
        with open(dump) as f:
            entries = json.load(f)
    finally:
        for d in set(run.list_shm()) - shm_before:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.SF_DIR}/{t}.parquet')")
    out, mismatches = {}, []
    for name in sorted(entries):
        sql, tree = entries[name]["oracle"], entries[name]["tree_rows"]
        if sql is None:
            out[name] = {"rows": tree, "source": "tree"}
            continue
        rows = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        out[name] = {"rows": rows, "source": "duckdb"}
        if rows != tree:
            mismatches.append(f"{name}: tree {tree}, oracle {rows}")
    with open(run.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} entries, {sum(v['source'] == 'tree' for v in out.values())} "
          f"from the tree, {len(mismatches)} tree/oracle mismatches")
    for m in mismatches:
        print("  " + m)
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
