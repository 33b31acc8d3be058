#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the correctness reference of the
olap_tpch workload.

    python3 perfbench/oracle.py

Runs every olap_tpch query once on the benchmark's fixtures through
perfbench.Main's `reference` mode (full collect, not count), which writes
each result as parquet beside the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`). tools/check.py then compares every result with
DuckDB. Only when it passes does this write each result's row count and
order-insensitive digest to expected.json.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    run.build()
    work = os.path.join(run.WORK, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    res = os.path.join(work, "results")
    try:
        subprocess.run(run.java_cmd(work, ["reference", "--data", run.DATA, "--out", res]),
                       cwd=work, env=run.JVM_ENV, check=True, stdin=subprocess.DEVNULL)
        check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                                run.DATA, res])
        if check.returncode != 0:
            sys.exit("tools/check.py found results that disagree with the oracle; "
                     "expected.json not written")
        with open(os.path.join(res, "reference.json")) as fh:
            ref = json.load(fh)
        out = {"data": os.path.relpath(run.DATA, run.ROOT),
               "checked_against": "DuckDB, SparkEntry.oracleSql, tools/check.py",
               "results": dict(sorted(ref.items()))}
        with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote expected.json: {len(ref)} queries match the oracle")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
