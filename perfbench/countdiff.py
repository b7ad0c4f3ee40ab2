#!/usr/bin/env python3
"""Compares the deterministic counts of two traced benchmark records.

    python3 perfbench/countdiff.py <before.json> <after.json>

The records are the files `run.py --trace 1` writes to
`.bench_build/traces/`. Wall times on a shared host swing by tens of
percent; the counts below do not move unless the plan or the data does, so
an increase is a regression signal that needs no repeated runs:

    jobs, stages, tasks, exchanges, scans, shuffle bytes, codegen compiles
    and rows, per span (every flow stage or catalog query, every engine
    layer) and for the whole traced pass.

Prints every count that changed, flags each increase, and exits with 1 if
any count went up (0 otherwise). Both records must come from the same
workload and seed, or the row counts differ for reasons of their own.
"""
import json
import sys

COUNTS = ["spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks",
          "spark.plan.exchanges", "spark.plan.scans", "spark.shuffle.write_bytes",
          "spark.shuffle.read_bytes", "spark.codegen.compiles"]
ATTRS = ["rows", "dict_cells"]


def counts(record):
    """{(span name, count name): value}, summed over spans of the same name."""
    out = {}
    for span in record["spans"]:
        values = [(c, span["counters"].get(c, 0.0)) for c in COUNTS]
        values += [(a, span["attrs"][a]) for a in ATTRS if a in span["attrs"]]
        for c, v in values:
            key = (span["name"], c)
            out[key] = out.get(key, 0.0) + v
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = (json.load(open(p)) for p in argv[1:])
    if before["run_id"].split("-trace")[0] != after["run_id"].split("-trace")[0]:
        print(f"warning: comparing {before['run_id']} with {after['run_id']}")
    a, b = counts(before), counts(after)
    worse = 0
    for key in sorted(set(a) | set(b)):
        x, y = a.get(key, 0.0), b.get(key, 0.0)
        if x == y:
            continue
        flag = "UP  " if y > x else "down"
        worse += y > x
        print(f"{flag} {key[0]:55s} {key[1]:28s} {x:>14.0f} -> {y:<14.0f}")
    print(f"{worse} count(s) went up")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
