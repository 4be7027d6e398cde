#!/usr/bin/env python3
"""The benchmark's own test, on the tiny inputs.

Usage, from the repository root: python3 perfbench/test_smoke.py

For every workload in BENCHMARK.json, untraced and traced, checks that the
run exits 0 and that its last line is the result object with every metric
BENCHMARK.json names for that mode, each with its unit (and the end-to-end
ones non-zero). Then checks that the benchmark refuses to run, with a
non-zero exit and no result line, in a directory holding only
BENCHMARK.json and the benchmark's files.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(cwd, workload, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "42", "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(spec, workload, trace):
    p = run(ROOT, workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    assert last["correct"] is True and last["attempted"] >= 1 and last["failed"] == 0, last
    want = spec["per_layer" if trace else "end_to_end"]
    assert [m["name"] for m in want] == list(last["metrics"]), (workload, trace)
    for m in want:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
            assert m["name"] in p.stdout.split("\n{")[0], f"{m['name']} missing from the report"
    print(f"ok {workload} trace={trace}: {len(want)} metrics")


def check_refuses_without_engine():
    bare = os.path.join(BENCH, "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for f in ("run.py", "build.sbt", "golden.json"):
        shutil.copy(os.path.join(BENCH, f), os.path.join(bare, "perfbench"))
    for d in ("src", "project"):
        shutil.copytree(os.path.join(BENCH, d), os.path.join(bare, "perfbench", d),
                        ignore=shutil.ignore_patterns("target", "project"))
    p = run(bare, "kg_build", 0)
    shutil.rmtree(bare)
    assert p.returncode != 0 and '"correct"' not in p.stdout, (p.returncode, p.stdout)
    print("ok refuses to run without the engine sources")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_refuses_without_engine()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, w["name"], trace)


if __name__ == "__main__":
    main()
