#!/usr/bin/env python3
"""Regenerates perfbench/golden.json: the committed result hashes for the
default seed, at full and smoke scale.

Usage, from the repository root: python3 perfbench/make_golden.py

Each workload runs once untraced with the golden file moved aside, so the
run's own checks (P/R against the fixture oracle, every query against its
DuckDB oracle) must pass for the hashes to be recorded.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GOLDEN = os.path.join(BENCH, "golden.json")
SEED = 42


def main():
    if os.path.exists(GOLDEN):
        os.rename(GOLDEN, GOLDEN + ".old")
    golden = {}
    for scale in ("smoke", "full"):
        g = golden[scale] = {"seed": SEED}
        for workload in ("kg_build", "ops_queries"):
            cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                   "--seed", str(SEED), "--seconds", "1", "--trace", "0"]
            subprocess.run(cmd + (["--smoke"] if scale == "smoke" else []), cwd=ROOT, check=True)
            with open(os.path.join(BENCH, "work", f"report-{workload}-seed{SEED}-trace0.json")) as f:
                extra = json.load(f)["extra"]
            if workload == "kg_build":
                g["kg_kept_hash"] = extra["kept_hash"]
            else:
                g["query_hashes"] = extra["query_hashes"]
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    if os.path.exists(GOLDEN + ".old"):
        os.remove(GOLDEN + ".old")


if __name__ == "__main__":
    main()
