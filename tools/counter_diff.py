#!/usr/bin/env python3
"""Compare the deterministic work counters of two traced benchmark runs.

Usage:
    python3 tools/counter_diff.py BASE CHANGE

BASE and CHANGE are files holding the stdout of
`python3 perfbench/run.py --workload W --seed N --trace 1` (the last JSON
line carrying "metrics" is used, so the whole output can be passed as is).

Counters are the metrics named `*.jobs`, `*_jobs`, `*.stages`, `*.tasks`,
`*_bytes`, `*.plan_nodes` and `*.exchanges`: jobs, stages, tasks, shuffle
and checkpoint bytes and plan shape do not drift between runs of the same
code the way wall times do, so any difference is a change in the work done.
Prints one line per differing counter and exits 1 when there is one;
prints the number of identical counters and exits 0 otherwise.
"""
import fnmatch
import json
import sys

COUNTERS = ("*.jobs", "*_jobs", "*.stages", "*.tasks", "*_bytes",
            "*.plan_nodes", "*.exchanges")


def metrics(path):
    found = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and isinstance(obj.get("metrics"), dict):
                found = obj["metrics"]
    if found is None:
        sys.exit(f"{path}: no result line with metrics")
    return {k: v["value"] if isinstance(v, dict) else v for k, v in found.items()}


def is_counter(name):
    return any(fnmatch.fnmatchcase(name, p) for p in COUNTERS)


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: python3 tools/counter_diff.py BASE CHANGE")
    base, change = metrics(argv[1]), metrics(argv[2])
    names = sorted(n for n in set(base) | set(change) if is_counter(n))
    diffs = [(n, base.get(n), change.get(n)) for n in names
             if base.get(n) != change.get(n)]
    for n, b, c in diffs:
        print(f"DIFF {n}: {b} -> {c}")
    if diffs:
        return 1
    print(f"counters identical ({len(names)} compared)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
