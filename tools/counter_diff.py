#!/usr/bin/env python3
"""Compare the deterministic work counters of two traced benchmark runs.

Usage:
    python3 tools/counter_diff.py BASE CHANGE
    python3 tools/counter_diff.py BASE1,BASE2,... CHANGE1,CHANGE2,...

BASE and CHANGE are files holding the stdout of
`python3 perfbench/run.py --workload W --seed N --trace 1` (the last JSON
line carrying "metrics" is used, so the whole output can be passed as is).
Each side may list several runs, comma-separated.

Counters are the metrics named `*.jobs`, `*_jobs`, `*.stages`, `*.tasks`,
`*_bytes`, `*.plan_nodes` and `*.exchanges`: jobs, stages, tasks, shuffle
and checkpoint bytes and plan shape do not drift between runs of the same
code the way wall times do, so any difference is a change in the work done.
Prints one line per differing counter and exits 1 when there is one;
prints the number of identical counters and exits 0 otherwise.

With several runs per side, a counter differs unless every value seen in
the change's runs was also seen in at least one of the base's runs (a few
byte counters flip between runs of the same code), and a SPREAD line shows
each counter that varies between the base's own runs.
"""
import fnmatch
import json
import sys

COUNTERS = ("*.jobs", "*_jobs", "*.stages", "*.tasks", "*_bytes",
            "*.plan_nodes", "*.exchanges")


def json_objects(lines):
    """The JSON objects among `lines` (a benchmark run's stdout), in order."""
    for line in lines:
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict):
            yield obj


def result_line(lines):
    """The last result line (the object carrying a "metrics" dict), or None."""
    found = None
    for obj in json_objects(lines):
        if isinstance(obj.get("metrics"), dict):
            found = obj
    return found


def metrics(path):
    with open(path) as f:
        found = result_line(f)
    if found is None:
        sys.exit(f"{path}: no result line with metrics")
    return {k: v["value"] if isinstance(v, dict) else v
            for k, v in found["metrics"].items()}


def is_counter(name):
    return any(fnmatch.fnmatchcase(name, p) for p in COUNTERS)


def shown(values):
    return values[0] if len(values) == 1 else "[" + ", ".join(map(str, values)) + "]"


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: python3 tools/counter_diff.py BASE[,BASE...] CHANGE[,CHANGE...]")
    base = [metrics(p) for p in argv[1].split(",")]
    change = [metrics(p) for p in argv[2].split(",")]
    names = sorted(n for n in set().union(*base, *change) if is_counter(n))
    for n in names:
        seen = [m.get(n) for m in base]
        if len(set(map(str, seen))) > 1:
            print(f"SPREAD {n}: base runs saw {shown(seen)}")
    diffs = []
    for n in names:
        b, c = [m.get(n) for m in base], [m.get(n) for m in change]
        if any(v not in b for v in c):
            diffs.append((n, shown(b), shown(c)))
    for n, b, c in diffs:
        print(f"DIFF {n}: {b} -> {c}")
    if diffs:
        return 1
    if len(base) == len(change) == 1:
        print(f"counters identical ({len(names)} compared)")
    else:
        print(f"no counter outside the base's runs ({len(names)} compared, "
              f"{len(base)} base and {len(change)} change runs)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
