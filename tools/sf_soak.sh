#!/bin/bash
# sf0.1 -> sf1 soak session (round-7 verdict task 1): run the full
# 87-query suite at BOTH scales back-to-back in ONE window and emit the
# per-query time-ratio table. The sf1 input is graft.ScaleUp output
# (deterministic 10x replication of the driver sf0.1 ladder, disjoint
# key spaces). Each bench runs with SPARK_GRAFT_QUERY_REPS=2, which
# emits BOTH protocols from the same run: "queries_first"/"value_first"
# (cold first-rep = the plain protocol) and "queries" (warm best-of-2).
# Ratios are computed on the warm numbers — per-rep host noise at this
# box is larger than most sub-second queries, and the cold/warm gap is
# a fixed per-query JIT+pagecache cost that would otherwise pollute the
# scaling signal.
# Usage: SF1_DIR=/tmp/graft-sf1 OUT=/tmp/sf_soak bash tools/sf_soak.sh
set -eu
SF1_DIR=${SF1_DIR:-/tmp/graft-sf1}
OUT=${OUT:-/tmp/sf_soak}
mkdir -p "$OUT"
OUT=$(cd "$OUT" && pwd)
cd "$(dirname "$0")/.."
if [ ! -d "$SF1_DIR/lineitem.parquet" ]; then
  echo "generating $SF1_DIR ..."
  tools/run_class.sh -mem 24g graft.ScaleUp /root/testdata/sf0.1 "$SF1_DIR" 10 \
    >/dev/null 2>&1
fi
for sf in sf01 sf1; do
  if [ "$sf" = sf01 ]; then dir=/root/testdata/sf0.1; mem=16g
  else dir=$SF1_DIR; mem=48g; fi
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_KG_SCALE=small SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_QUERY_REPS=2 \
    SPARK_GRAFT_BENCH_OUT="$OUT/bench_$sf.json" \
    tools/run_class.sh -mem $mem -opts "-XX:+UseParallelGC -Xmn8g" graft.Bench \
    >/dev/null 2>&1
  echo "$sf done"
done
python3 - "$OUT" <<'EOF'
import json, sys
out = sys.argv[1]
da = json.load(open(f"{out}/bench_sf01.json"))
db = json.load(open(f"{out}/bench_sf1.json"))
a, b = da["queries"], db["queries"]
# a query can be present in only one run (failed at the other SF):
# report it explicitly instead of raising KeyError after both long runs.
for side, only in (("sf0.1", sorted(set(a) - set(b))),
                   ("sf1", sorted(set(b) - set(a)))):
    for q in only:
        print(f"[only {side}] {q}")
for name, d in (("sf0.1", da), ("sf1", db)):
    if d.get("failed"):
        print(f"[failed at {name}] {d['failed']}")
rows = []
for q in sorted(set(a) & set(b)):
    r = b[q] / a[q] if a[q] > 0 else float("inf")
    rows.append((r, q, a[q], b[q]))
rows.sort(reverse=True)
print(f"{'query':28s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>7s}")
for r, q, ta, tb in rows:
    flag = "  <-- superlinear" if r > 13.0 else ""
    print(f"{q:28s} {ta:8.2f} {tb:8.2f} {r:7.2f}{flag}")
# over the queries both runs have, like the rows above
ta, tb = sum(r[2] for r in rows), sum(r[3] for r in rows)
print(f"{'TOTAL':28s} {ta:8.2f} {tb:8.2f} {tb/ta:7.2f}")
EOF
