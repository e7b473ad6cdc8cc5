#!/usr/bin/env python3
"""Regenerates perfbench/goldens.json, the result hashes the query
workloads check every operation against.

    python3 perfbench/regen_goldens.py

Steps: generate the query fixtures (run.SCALE, run.DATA_SEED); hash every
benchmark query's result with the benchmark's own hasher; dump the same
queries with `graft.Verify` and compare them to the DuckDB oracle with
`tools/check.py`. The goldens are written only when every query passes
the oracle gate, so a golden hash is always that of a verified result.
Needs the `duckdb` Python package (for tools/check.py).
"""
import json
import os
import shutil
import subprocess
import sys
import time

import run

import fixtures


def main():
    cp = run.build(time.time() + 900)
    work = os.path.join(run.HERE, ".work", "regen")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fx = os.path.join(work, "fixtures")
        fixtures.write(fx, run.SCALE, run.DATA_SEED)
        records = run.run_jvm(cp, "hashes", 0, 0, 0, fx, 0.0, work, time.time() + 900)
        ops = [r for r in records if r["t"] == "op"]
        failed = [r["name"] for r in ops if not r["ok"]]
        if failed:
            sys.exit(f"queries failed: {failed}")
        names = [r["name"] for r in ops]
        verify = os.path.join(work, "verify")
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        subprocess.run(run.java_cmd(cp, work) + ["graft.Verify", fx, verify],
                       cwd=work, env=env, check=True)
        gate = subprocess.run([sys.executable, os.path.join(run.REPO, "tools", "check.py"),
                               fx, verify, *names])
        if gate.returncode != 0:
            sys.exit("DuckDB oracle gate failed; goldens not written")
        goldens = {
            "scale": run.SCALE, "data_seed": run.DATA_SEED,
            "note": "written by perfbench/regen_goldens.py after every query "
                    "passed graft.Verify + tools/check.py on these fixtures",
            "hashes": {r["name"]: f"{r['hash']}:{r['rows']}" for r in ops}}
        with open(os.path.join(run.HERE, "goldens.json"), "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(ops)} goldens")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
