#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query, order-insensitively.

Usage: python3 tools/outdiff.py <dirA> <dirB> [--only q78,q83]

Reads each <dir>/<query>/*.parquet with duckdb and compares the sorted
row reprs. A query present in only one dir counts as a difference.
`--only` restricts the comparison to queries whose name is one of the
given names or starts with one of them followed by "_" (q78 matches
q78_multimodal_ann); a name that matches no query in either dir counts
as a difference. Prints the differing queries, or `identical`;
exits 1 on any difference, 2 on bad arguments.
"""
import os
import sys

import duckdb


def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def rows(con, d, q):
    return sorted(map(repr, con.execute(
        f"SELECT * FROM read_parquet('{d}/{q}/*.parquet')").fetchall()))


def main(argv):
    args, only = list(argv), None
    if "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            args = []
        else:
            only = [p for p in args[i + 1].split(",") if p]
            del args[i:i + 2]
    if len(args) != 2 or not all(os.path.isdir(d) for d in args):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = args
    qa, qb = queries(a), queries(b)
    names, unmatched = qa | qb, []
    if only is not None:
        def hit(q, p):
            return q == p or q.startswith(p + "_")
        unmatched = [p for p in only if not any(hit(q, p) for q in names)]
        names = {q for q in names if any(hit(q, p) for p in only)}
    con = duckdb.connect()
    diff = sorted(q for q in names
                  if q not in qa or q not in qb
                  or rows(con, a, q) != rows(con, b, q)) + unmatched
    print(" ".join(diff) if diff else "identical")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
