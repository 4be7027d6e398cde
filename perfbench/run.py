#!/usr/bin/env python3
"""Benchmark of the graft KG engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Workloads (closed loop, one client: each unit of work starts when the
previous one has finished):

  kg_build     KgPipeline.runWith in memory, minhash dedup, degree join
               "auto", over a seeded fixture staged to parquet; every run
               starts with an empty code-generation cache, as a batch
               build in a new application does.
  ops_queries  a fixed set of SparkEntry.queries, one per family, on seeded
               TPC-H-shaped tables, each through a sink that computes every
               output column.

The first run builds the benchmark package (perfbench/build.sbt, which
compiles the engine's src/main/scala with the benchmark's JVM code) with sbt
offline. The JVM measures and writes its figures to perfbench/work; this
script checks the outputs (P/R against the fixture oracle, query results
against the DuckDB oracle on the same tables, committed hashes for the
default seed), prints every metric with its unit, and ends with one JSON
line holding the metrics BENCHMARK.json names: the end_to_end ones with
--trace 0, the per_layer ones with --trace 1. It exits 1 when an output is
wrong, and 2 when the engine's sources are missing or the build fails.

--smoke runs the tiny inputs (Fixtures.tiny shape, sf 0.001); the
benchmark's own test (perfbench/test_smoke.py) uses it.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
GOLDEN = os.path.join(BENCH, "golden.json")
WORKLOADS = ("kg_build", "ops_queries")
DEADLINE_S = 175.0
PR_MIN = 0.95
HEAP = "3g"

def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, env, log_path, timeout):
    """Runs cmd in its own process group, output to log_path. The whole
    group is killed, and waited for, on timeout and when this script is
    terminated."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()

        def on_signal(signum, _frame):
            stop()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            stop()
            for s, h in handlers.items():
                signal.signal(s, h)


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles the benchmark package unless the classes match the sources."""
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(WORK, "build.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BENCH, env, log, 850)
    if code != 0:
        fail(2, "build failed:\n" + tail(log))
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(a, result_path, started):
    add_opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + add_opens +
           ["-cp", f"{CLASSES}:{os.environ['SPARK_HOME']}/jars/*", "perfbench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), "smoke" if a.smoke else "full", WORK, result_path])
    if os.path.exists(result_path):
        os.remove(result_path)
    log = os.path.join(WORK, f"jvm-{a.workload}.log")
    cpu0 = host_cpu()
    code = run_bounded(cmd, ROOT, dict(os.environ), log, DEADLINE_S - (time.monotonic() - started))
    cpu1 = host_cpu()
    if code != 0 or not os.path.exists(result_path):
        fail(1, f"benchmark JVM exited with {code}:\n" + tail(log))
    with open(result_path) as f:
        res = json.load(f)
    if cpu0 and cpu1:
        d = [y - x for x, y in zip(cpu0, cpu1)]
        res["host"]["steal_share"] = d[7] / max(1, sum(d[:8]))
    return res


def host_cpu():
    """Jiffies per state from /proc/stat (steal is the 8th), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def canon_rows(cols, rows):
    """Rows with columns ordered by name, sorted: an order-insensitive form."""
    import decimal
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(float(r[i]) if isinstance(r[i], decimal.Decimal) else r[i] for i in idx)
           for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t)), [cols[i] for i in idx]


def rows_hash(cols, rows):
    """Order-insensitive hash; floats rounded to 6 significant digits."""
    def cell(x):
        if isinstance(x, float):
            return "nan" if math.isnan(x) else f"{x:.6g}"
        return repr(x)
    crows, ccols = canon_rows(cols, rows)
    lines = sorted("|".join(cell(x) for x in r) for r in crows)
    h = hashlib.sha256(("\t".join(ccols) + "\n" + "\n".join(lines)).encode())
    return h.hexdigest()[:16]


def same_rows(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not (x == y or abs(x - y) <= 1e-9 * max(1.0, abs(y))):
                    return False
            elif x != y:
                return False
    return True


def check_queries(extra, golden):
    """Compares every query result with its DuckDB oracle on the same tables
    and, for a seed with committed hashes, with the committed hash."""
    import duckdb
    con = duckdb.connect()
    ops_dir, results = extra["ops_dir"], extra["results_dir"]
    for t in sorted(os.listdir(ops_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{ops_dir}/{t}/*.parquet')")
    mismatches, hashes = [], {}
    for q in extra["queries"]:
        if not os.path.isdir(os.path.join(results, q)):
            print(f"  no result for {q}")
            mismatches.append(q)
            continue
        cur = con.execute(f"SELECT * FROM read_parquet('{results}/{q}/*.parquet')")
        s_cols = [d[0] for d in cur.description]
        s_rows = cur.fetchall()
        hashes[q] = rows_hash(s_cols, s_rows)
        sql = extra["oracle_sql"].get(q)
        if sql is not None:
            try:
                cur = con.execute(sql.replace("__SPARK_OUT__", results))
                o_cols = [d[0] for d in cur.description]
                o_canon, o_c = canon_rows(o_cols, cur.fetchall())
            except duckdb.Error as e:
                print(f"  oracle error {q}: {e}")
                mismatches.append(q)
                continue
            s_canon, s_c = canon_rows(s_cols, s_rows)
            if o_c != s_c or not same_rows(s_canon, o_canon):
                print(f"  oracle mismatch {q}")
                mismatches.append(q)
                continue
        if golden is not None and golden.get(q) != hashes[q]:
            print(f"  golden hash mismatch {q}: {hashes[q]} != {golden.get(q)}")
            mismatches.append(q)
    return mismatches, hashes


def load_golden(a):
    if not os.path.exists(GOLDEN):
        return None
    with open(GOLDEN) as f:
        g = json.load(f).get("smoke" if a.smoke else "full", {})
    if g.get("seed") != a.seed:
        return None
    return g.get("kg_kept_hash" if a.workload.startswith("kg") else "query_hashes")


STARTED = time.monotonic()


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    a = p.parse_args()
    if a.seconds < 1:
        fail(2, "--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(2, f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if "SPARK_HOME" not in os.environ:
        try:  # the pyspark package carries the same jars as a Spark install
            import pyspark
            os.environ["SPARK_HOME"] = os.path.dirname(pyspark.__file__)
        except ImportError:
            fail(2, "no Spark install: set SPARK_HOME")
    if not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        fail(2, f"no jars under SPARK_HOME={os.environ['SPARK_HOME']}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    t0 = time.monotonic()
    build(digest)
    # a run that builds may take longer; the build's own time is not
    # counted against the run's limit
    started = time.monotonic() - (t0 - STARTED)
    res = run_jvm(a, os.path.join(WORK, f"result-{a.workload}.json"), started)
    m, layers, extra = res["metrics"], res["layers"], res["extra"]
    golden = load_golden(a)
    # the JVM writes a time that is not finite (an operation that failed)
    # as null
    problems = [f"{k} is not a finite number" for k, v in
                [(k, v["value"]) for k, v in m.items()] + list(layers.items()) if v is None]
    if a.workload.startswith("kg"):
        for k in ("precision", "recall"):
            if m[k]["value"] < PR_MIN:
                problems.append(f"{k} {m[k]['value']:.4f} < {PR_MIN}")
        if golden is not None and golden != extra["kept_hash"]:
            problems.append(f"kept-triple hash {extra['kept_hash']} != committed {golden}")
    else:
        mismatches, hashes = check_queries(extra, golden)
        extra["query_hashes"] = hashes
        m["result_mismatches"] = {"value": len(mismatches), "unit": "count"}
        if mismatches:
            problems.append(f"result mismatches: {', '.join(mismatches)}")
    if extra.get("resume_rerun_stages"):
        problems.append(f"resume re-ran stages {', '.join(extra['resume_rerun_stages'])}")
    if (layers.get("extract.text_mismatch") or 0) > 0:
        problems.append(f"extract.text_mismatch = {layers['extract.text_mismatch']}")
    if (layers.get("multimodal.stub_fallback_rows") or 0) > 0:
        problems.append(f"multimodal.stub_fallback_rows = {layers['multimodal.stub_fallback_rows']}")

    res["host"].update({"seed": a.seed, "source_digest": digest, "git_commit": git_commit()})
    with open(os.path.join(WORK, f"report-{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    h = res["host"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"{'smoke' if a.smoke else 'full'} nproc={h['nproc']} mem={h['mem_total_mb']}MB "
          f"spark={h['spark_version']} source={digest} "
          f"calibration_s={'/'.join(f'{x:.3f}' for x in h['calibration_s'])} "
          f"steal_share={h.get('steal_share', float('nan')):.3f} "
          f"elapsed_s={time.monotonic() - started:.1f}")
    for k, v in m.items():
        print(f"  {k:24s} {num(v['value'])} {v['unit']}")
    for k in ("wall_s_samples", "cpu_s_samples", "jit_s_samples", "gc_s_samples",
              "codegen_compiles_samples", "setup_reps_s", "warmup_s"):
        if k in extra:
            print(f"  {k:24s} n={len(extra[k])} " + " ".join(num(x, "{:.3f}") for x in extra[k]))
    tails = {k: v for k, v in extra.items() if k.startswith("wall_s_p")}
    for k, v in tails.items():
        print(f"  {k:24s} {num(v)} s")
    if not tails:
        print(f"  {'wall_s tail':24s} none: no percentile has 10 of the "
              f"{len(extra['wall_s_samples'])} samples above it")
    if "query_samples" in extra:
        print(f"  {'query_samples':24s} {extra['query_samples']} count")
    if a.trace:
        for k in sorted(layers):
            print(f"  {k:40s} {num(layers[k])}")
        for p, t in extra.get("trace_pairs_s", []):
            print(f"  {'trace pair untraced/traced':40s} {num(p, '{:.3f}')} {num(t, '{:.3f}')} s")
        for q in extra.get("pruned_under_count", []):
            print(f"  pruned under count: {q['query']} full={q['full_sink_s']:.3f}s "
                  f"count={q['count_s']:.3f}s drops {','.join(q['pruned'])}")
        print(f"  spans written to {os.path.relpath(extra['trace_file'], ROOT)}")
    for pr in problems:
        print(f"  INCORRECT: {pr}")

    if a.trace:
        # a layer the workload leaves idle reads 0
        out = {n["name"]: {"value": layers.get(n["name"], 0.0), "unit": n["unit"]}
               for n in spec["per_layer"]}
    else:
        out = {n["name"]: {"value": m[n["name"]]["value"], "unit": n["unit"]}
               for n in spec["end_to_end"]}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    sys.exit(1 if problems else 0)


def num(v, fmt="{:.6g}"):
    return "not finite" if v is None else fmt.format(v)


def git_commit():
    """HEAD of the checkout when it is a git repository, else None."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


if __name__ == "__main__":
    main()
