"""Counter-repeatability test of the benchmark: two short traced passes
with one seed must give identical Spark work per operation (jobs, stages,
tasks, shuffle and RDD-block bytes, in every phase). Wall times may
differ; counters may not. On a mismatch it prints the first differing
operation and exits 1. An AQE join-strategy flip between runs is the
known kind of mismatch.

    python3 perfbench/test_repeat.py [--workload W ...] [--seed N]
"""
import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402

KEYS = ["jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "rdd_bytes"]


def traced_pass(workload, seed, tag):
    classes, _ = build.build()
    data = build.corpus(run.SF)
    ops = wl.make_ops(workload, seed, wl.connect(data),
                      run.WARMUP[workload] + run.GROUP[workload], run.WARMUP[workload])
    rundir = os.path.join(build.out_dir(), "runs", f"repeat-{workload}-{os.getpid()}-{tag}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        run.run_jvm(argparse.Namespace(workload=workload, trace=1),
                    classes, data, ops, rundir)
        traced = run.jsonl(os.path.join(rundir, "trace_ops.jsonl"))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    return [(t["id"], t["cls"],
             {ph: {k: c.get(k, 0) for k in KEYS} for ph, c in sorted(t["counters"].items())})
            for t in traced]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    failed = False
    for w in a.workload or run.WORKLOADS:
        first, second = traced_pass(w, a.seed, "a"), traced_pass(w, a.seed, "b")
        diff = next(((x, y) for x, y in zip(first, second) if x != y), None)
        if diff is None and len(first) == len(second) and first:
            print(f"{w}: OK, {len(first)} operations with identical counters")
            continue
        failed = True
        if diff is None:
            print(f"{w}: FAIL, {len(first)} vs {len(second)} traced operations")
        else:
            print(f"{w}: FAIL at operation {diff[0][0]} ({diff[0][1]})\n"
                  f"  first:  {diff[0][2]}\n  second: {diff[1][2]}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
