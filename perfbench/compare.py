#!/usr/bin/env python3
"""Compares two benchmark reports (files written to .bench_build/results/).

    python3 perfbench/compare.py BEFORE.json AFTER.json

Refuses, with exit code 2, to compare reports taken on different host
shapes (processor count, local[N], -Xmx, -Xmn, JDK, Spark, machine) or of
different workloads or trace modes: a number measured on 32 cores is not a
baseline for a 4-core run.
"""
import json
import sys


def load(path):
    with open(path) as fh:
        return json.load(fh)


def main(a_path, b_path):
    a, b = load(a_path), load(b_path)
    pa, pb = a["provenance"], b["provenance"]
    for key in ("shape", "workload", "trace"):
        if pa[key] != pb[key]:
            sys.stderr.write(f"refused: {key} differs\n  {a_path}: {pa[key]}\n"
                             f"  {b_path}: {pb[key]}\n")
            return 2
    section = "per_layer" if pa["trace"] else "end_to_end"
    for name in sorted(set(a[section]) | set(b[section])):
        x, y = a[section].get(name), b[section].get(name)
        if isinstance(x, (int, float)) and isinstance(y, (int, float)):
            rel = f"{(y - x) / x:+.1%}" if x else "n/a"
            print(f"{name:48s} {x:14.6g} {y:14.6g} {rel:>8s}")
    for r, p in ((a, a_path), (b, b_path)):
        ff = r["failed_frac"]
        print(f"{p}: failed {ff['failed']} of {ff['attempted']} operations")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
