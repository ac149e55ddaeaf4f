#!/usr/bin/env python3
"""Rebuilds the catalog expectation files in perfbench/expect/.

Usage, from the root of the repository:

    python3 perfbench/make_expect.py

For each data set under perfbench/data (sf0.1 for the benchmark, sf0.001
for the smoke test) it runs the catalog queries once over the staged
tables (graft.Verify.run), checks the dump against the DuckDB oracle with
scripts/check_oracle.py, and only when that reports ALL OK writes each
query's row count and fingerprint to expect/catalog_<sf>.tsv.
"""
import os
import shutil
import subprocess
import sys

import run

DATA_SETS = ["sf0.1", "sf0.001"]


def main():
    env = run.build_env()
    classpath = run.build(env)
    for sf in DATA_SETS:
        work = os.path.join(run.BUILD_DIR, f"expect-{sf}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        data = os.path.join(run.HERE, "data", sf)
        dump = os.path.join(work, "dump")
        tsv = os.path.join(work, "expect.tsv")
        args = ["--mode", "expect", "--sf-dir", data, "--work", work,
                "--verify-out", dump, "--expect-out", tsv]
        subprocess.run(run.java_cmd(classpath, work, args), cwd=work, env=env, check=True,
                       stdin=subprocess.DEVNULL)
        oracle = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "scripts", "check_oracle.py"), data, dump],
            capture_output=True, text=True)
        print(oracle.stdout, end="")
        if oracle.returncode != 0 or "ALL OK" not in oracle.stdout:
            sys.exit(f"{sf}: outputs do not match the oracle; expectations not written")
        shutil.copy(tsv, os.path.join(run.HERE, "expect", f"catalog_{sf}.tsv"))
        shutil.rmtree(work)


if __name__ == "__main__":
    main()
