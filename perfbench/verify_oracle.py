#!/usr/bin/env python3
"""Check query_mix.txt's pinned fingerprints against the DuckDB oracle.

    python3 perfbench/verify_oracle.py

Run from the root of a checkout that has tools/check_oracle.py and DuckDB.
It dumps every listed query over perfbench/testdata with the engine's own
graft.tools.VerifySome (the dump path graft.Verify uses), compares each dump
with its oracle SQL in DuckDB, and then checks that each dump's row count
and order-independent hash equal the fingerprint pinned in query_mix.txt.
A query without an oracle is checked for the pinned fingerprint only.
The benchmark itself never runs this; it is how the pinned list was made
trustworthy, and how to re-check it after the testdata or a query changes.
"""
import json
import os
import shutil
import subprocess
import sys
import time

import run

OUT = os.path.join(run.BUILD, "oracle")


def main():
    cp = run.build(deadline=time.time() + 3600)
    shutil.rmtree(OUT, ignore_errors=True)
    dump, root = os.path.join(OUT, "dump"), os.path.join(OUT, "run")
    os.makedirs(os.path.join(root, "tmp"))
    data = os.path.join(run.HERE, "testdata")
    listed = os.path.join(run.HERE, "query_mix.txt")
    with open(listed) as f:
        names = [l.split()[0] for l in f if l.strip() and not l.startswith("#")]
    java = [os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java",
            *run.JVM_FLAGS, f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}", "-cp", cp]
    subprocess.run(java + ["graft.tools.VerifySome", data, dump, *names], check=True, cwd=root)
    # VerifySome matches by prefix; keep only the listed queries
    for d in os.listdir(dump):
        if os.path.isdir(os.path.join(dump, d)) and d not in names:
            shutil.rmtree(os.path.join(dump, d))
    oracle_json = os.path.join(dump, "oracle_sql.json")
    with open(oracle_json) as f:
        sql = {k: v for k, v in json.load(f).items() if k in names}
    with open(oracle_json, "w") as f:
        json.dump(sql, f)
    oracle = subprocess.run([sys.executable, os.path.join(run.REPO, "tools", "check_oracle.py"),
                             data, dump], cwd=run.REPO)
    pinned = subprocess.run(java + ["perfbench.Main", "--workload", "fingerprints", "--seed", "0",
                                    "--seconds", "0", "--root", root, "--data", data,
                                    "--queries", listed, "--dump", dump], cwd=root)
    return 0 if oracle.returncode == 0 and pinned.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
