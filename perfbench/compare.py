#!/usr/bin/env python3
"""Compare two run records written by `run.py --record`.

    python3 perfbench/compare.py base.json change.json

Records are comparable only when their environment stamps agree: same
workload, run length, trace mode, processor count, heap ceiling, Spark and
Java versions, JVM flags and session confs. The git and source digests and
the seed may differ; those are what a comparison is for. Records that do not agree
are refused with exit code 2, so numbers taken on another machine shape
are never read against this one's.
"""
import json
import sys

MUST_MATCH = ("workload", "seconds", "trace", "nproc", "max_heap_mb",
              "spark_version", "java_version", "jvm_flags", "confs")


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    recs = []
    for path in argv[1:]:
        with open(path) as fh:
            recs.append(json.load(fh))
    a, b = (r["stamp"] for r in recs)
    differ = [k for k in MUST_MATCH if a.get(k) != b.get(k)]
    if differ:
        for k in differ:
            print(f"refused: stamps differ on {k}: {a.get(k)!r} vs {b.get(k)!r}",
                  file=sys.stderr)
        return 2
    print(f"{'metric':45s} {'base':>14s} {'change':>14s} {'change/base':>12s}")
    ma, mb = recs[0]["metrics"], recs[1]["metrics"]
    for name in ma:
        if name not in mb:
            continue
        va, vb = ma[name]["value"], mb[name]["value"]
        ratio = f"{vb / va:12.3f}" if va else f"{'-':>12s}"
        print(f"{name:45s} {va:14.4f} {vb:14.4f} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
