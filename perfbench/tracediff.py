#!/usr/bin/env python3
"""Check that Spark counters repeat exactly between two traced runs.

    python3 perfbench/tracediff.py A/trace.jsonl B/trace.jsonl

Pairs the spans of the two traces by (span name, request id): a pack drain
is keyed by its pass and query, a statement by its place in the sequence
(`db-mixed-small` has one client, so request ids follow statement order).
For each pair it compares the counts that do not depend on timing. Prints
the pairs that differ and exits 1 if any do.
"""
import json
import sys

SHAPE = ["jobs", "stages", "tasks", "shuffle_write_records", "shuffle_read_records",
         "input_records"]


def spans(path):
    out = {}
    for line in open(path):
        s = json.loads(line)
        c = s.get("counters", {})
        if "jobs" in c:
            out[(s["span"], s["rid"])] = [c[k] for k in SHAPE]
    return out


def main():
    a, b = spans(sys.argv[1]), spans(sys.argv[2])
    common = sorted(set(a) & set(b), key=str)
    diff = [k for k in common if a[k] != b[k]]
    for k in diff:
        print(f"differs {k}: {dict(zip(SHAPE, a[k]))} vs {dict(zip(SHAPE, b[k]))}")
    print(f"{len(common) - len(diff)} of {len(common)} spans have identical counters "
          f"({len(a)} and {len(b)} spans in the two traces)")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
