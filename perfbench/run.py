"""graft benchmark: one named workload, one seed, one measured run.

    python3 perfbench/run.py --workload cypher_read --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Builds graft and the benchmark's JVM
program (`build.py`), generates the corpus, makes the seeded operation
stream, runs it in one JVM (`local[nproc]`, one client thread), checks
every answer against DuckDB or the stored oracle hashes, and prints two
JSON lines: a full report (every metric by name, percentile sample
counts, the environment stamp) and, last, the result object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics. See README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import workloads as wl  # noqa: E402

SF = 0.01
HEAP = "3g"
# Operations that form one balanced unit of a workload: a block holding each
# read class once, one write chain, one pass over the batch jobs. Runs
# measure whole groups only.
GROUP = {"cypher_read": 6, "cypher_write": 4, "analytics_batch": 5}
# Leading operations excluded from the samples as warm-up (still
# checked): four read blocks (a block's time falls by half over them, then
# stays flat), two write chains, and one PageRank job, which absorbs the
# first batch job's class loading (a whole warm-up pass would leave no
# time for a second measured one).
WARMUP = {"cypher_read": 24, "cypher_write": 8, "analytics_batch": 1}
# Nominal seconds of one group on a 4-core host. Runs are fixed work:
# `--seconds` picks the number of measured groups through these constants,
# never through a clock, so every run of a workload measures the same
# operations however fast the host is.
GROUP_S = {"cypher_read": 2.5, "cypher_write": 4.0, "analytics_batch": 15.0}
# Measured operations in a traced run: a fixed prefix, so its counters
# repeat exactly.
TRACE_OPS = {"cypher_read": 12, "cypher_write": 8, "analytics_batch": 5}
JVM_TIMEOUT_S = 170
WORKLOADS = ["cypher_read", "cypher_write", "analytics_batch"]
EXPECTED = os.path.join(HERE, "expected.json")
JOB_LAYER = {"pagerank": "algos.pagerank", "kcore": "algos.kcore",
             "components": "algos.components", "labelprop": "algos.labelprop",
             "dedup": "pipeline.dedup"}
# Per-layer metrics of the result line (`--trace 1`), as BENCHMARK.json
# lists them. The report line also carries the write-path metrics
# (cypher.write_*, graph.chain_depth, graph.readback_plan_nodes), which
# only the cypher_write workload moves.
PER_LAYER = (
    ["cypher.parse_ms", "cypher.compile_ms", "cypher.compile_jobs",
     "graph.load_ms", "graph.derive_ms"]
    + ["catalyst." + k for k in ["analysis_ms", "optimization_ms", "planning_ms",
                                 "plan_nodes", "exchanges"]]
    + ["exec." + k for k in ["action_ms", "jobs", "stages", "tasks", "task_cpu_ms",
                             "task_wait_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                             "spill_bytes", "empty_task_ratio", "failed_tasks",
                             "result_rows"]]
    + [f"read.{c}.{k}" for c in wl.READ_CLASSES for k in ["compile_ms", "action_ms", "jobs"]]
    + [f"{JOB_LAYER[j]}.{k}" for j in wl.BATCH_JOBS
       for k in ["build_ms", "action_ms", "jobs", "tasks", "shuffle_write_bytes",
                 "checkpoint_bytes"] if not (j == "dedup" and k == "tasks")]
    + ["jvm.gc_ms", "jvm.heap_after_gc_mb", "bench.overhead_ms", "trace.overhead_ratio"])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def measured_ops(workload, seconds):
    return GROUP[workload] * max(1, round(seconds / GROUP_S[workload]))


def pct(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """Highest whole percentile with at least 10 samples beyond it."""
    n = len(xs)
    if n < 20:
        return None
    p = int(100 * (n - 10) / n)
    return {"pct": p, "value": pct(xs, p), "n": n}


def jsonl(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def cpu_times():
    """The aggregate `cpu` line of /proc/stat (None where there is none)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times()` readings (field 8 is steal)."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    total = sum(t1) - sum(t0)
    return (t1[7] - t0[7]) / total if total > 0 else None


def git_commit():
    """HEAD of the checkout, when the checkout itself is a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(build.ROOT):
        return None
    return out[1]


def run_jvm(args, classes, data, ops, rundir):
    ops_path = os.path.join(rundir, "ops.jsonl")
    with open(ops_path, "w") as fh:
        for op in ops:
            fh.write(json.dumps(op) + "\n")
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_command(classes, HEAP, tmp) + [
        "run", "--workload", args.workload, "--data", data, "--ops", ops_path,
        "--out", rundir, "--trace", str(args.trace),
        "--warmup", str(WARMUP[args.workload]), "--cores", str(os.cpu_count())]
    with open(os.path.join(rundir, "jvm.log"), "w") as lg:
        proc = subprocess.Popen(cmd, stdout=lg, stderr=subprocess.STDOUT, cwd=rundir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # also on SIGTERM / Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc is None:
            raise RuntimeError("JVM timed out")
    if rc != 0:
        with open(os.path.join(rundir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"JVM exited {rc}")


def end_to_end(workload, recs, summary, failed, attempted):
    meas = [r for r in recs if not r["warm"]]
    lat = [r["lat_ms"] for r in meas]
    by_cls = {}
    for r in meas:
        by_cls.setdefault(r["cls"], []).append(r["lat_ms"])
    # Every class has the same number of samples, so the median of all
    # operations falls on the boundary between two classes and jumps with
    # single samples; each class's median, weighted equally, does not.
    gm = math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_cls.values()))
    m = {
        "setup_s": (summary["setup"]["setup_ms"] / 1000, "s"),
        "class_p50_gm_ms": (gm, "ms"),
        "ops_per_s": (len(meas) / summary["measure_s"], "1/s"),
        "stored_peak_mb": (summary["stored_peak_bytes"] / 1048576.0, "MB"),
    }
    named = {"setup_s": m["setup_s"], "stored_peak_mb": m["stored_peak_mb"],
             "failed_ratio": (failed / attempted, "ratio")}
    t = tail(lat)
    if workload == "cypher_read":
        named.update({"read_p50_ms": (pct(lat, 50), "ms"),
                      "read_qps": (m["ops_per_s"][0], "1/s"),
                      "lookup_p50_ms": (pct(by_cls.get("lookup", [0]), 50), "ms")})
        if t:
            named[f"read_p{t['pct']}_ms"] = (t["value"], "ms")
    elif workload == "cypher_write":
        named.update({"txn_p50_ms": (pct(lat, 50), "ms"),
                      "txn_per_s": (m["ops_per_s"][0], "1/s")})
        if t:
            named[f"txn_p{t['pct']}_ms"] = (t["value"], "ms")
    else:
        passes = {}
        for r in meas:
            passes.setdefault((r["id"] - WARMUP[workload]) // GROUP[workload],
                              []).append(r["lat_ms"])
        full = [sum(v) / 1000 for v in passes.values() if len(v) == GROUP[workload]]
        named["batch_s"] = (statistics.median(full) if full else None, "s")
        for job in wl.BATCH_JOBS:
            named[job + "_s"] = (statistics.median(by_cls[job]) / 1000 if job in by_cls
                                 else None, "s")
    samples = {c: {"n": len(v), "p50_ms": pct(v, 50), "tail": tail(v)}
               for c, v in sorted(by_cls.items())}
    samples["all"] = {"n": len(lat), "p50_ms": pct(lat, 50), "tail": t}
    return m, named, samples


def per_layer(workload, traced, summary):
    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def ph(t, name):
        return t["phase_ms"].get(name, 0.0)

    def cnt(t, key, phases=None):
        return sum(v.get(key, 0) for p, v in t["counters"].items()
                   if phases is None or p in phases)

    def catv(t, key):
        return t["catalyst"].get(key, 0)
    setup = summary["setup"]
    m = {
        "cypher.parse_ms": mean(ph(t, "parse") for t in traced),
        "cypher.compile_ms": mean(ph(t, "compile") for t in traced),
        "cypher.compile_jobs": mean(cnt(t, "jobs", {"compile"}) for t in traced),
        "cypher.write_ms": mean(ph(t, "write") for t in traced),
        "cypher.write_jobs": mean(cnt(t, "jobs", {"write"}) for t in traced),
        "graph.load_ms": setup["load_ms"],
        "graph.derive_ms": setup["derive_ms"],
        "graph.chain_depth": mean(t.get("chain_depth", 0) for t in traced),
        "graph.readback_plan_nodes": mean(catv(t, "plan_nodes") for t in traced)
        if workload == "cypher_write" else 0.0,
    }
    for k in ["analysis_ms", "optimization_ms", "planning_ms", "plan_nodes", "exchanges"]:
        m["catalyst." + k] = mean(catv(t, k) for t in traced)
    act = {"action"}
    tasks = sum(cnt(t, "tasks", act) for t in traced)
    m.update({
        "exec.action_ms": mean(ph(t, "action") for t in traced),
        "exec.jobs": mean(cnt(t, "jobs", act) for t in traced),
        "exec.stages": mean(cnt(t, "stages", act) for t in traced),
        "exec.tasks": mean(cnt(t, "tasks", act) for t in traced),
        "exec.task_cpu_ms": mean(cnt(t, "task_cpu_ms", act) for t in traced),
        "exec.task_wait_ms": mean(cnt(t, "task_wait_ms", act) for t in traced),
        "exec.shuffle_write_bytes": mean(cnt(t, "shuffle_write_bytes", act) for t in traced),
        "exec.shuffle_read_bytes": mean(cnt(t, "shuffle_read_bytes", act) for t in traced),
        "exec.spill_bytes": mean(cnt(t, "spill_bytes", act) for t in traced),
        "exec.empty_task_ratio": sum(cnt(t, "empty_tasks", act) for t in traced) / tasks
        if tasks else 0.0,
        "exec.failed_tasks": float(sum(cnt(t, "failed_tasks") for t in traced)),
        "exec.result_rows": mean(catv(t, "result_rows") for t in traced),
    })
    for c in wl.READ_CLASSES:
        ts = [t for t in traced if t["cls"] == c]
        m[f"read.{c}.compile_ms"] = mean(ph(t, "compile") for t in ts)
        m[f"read.{c}.action_ms"] = mean(ph(t, "action") for t in ts)
        m[f"read.{c}.jobs"] = mean(cnt(t, "jobs") for t in ts)
    for j, prefix in JOB_LAYER.items():
        ts = [t for t in traced if t["cls"] == j]
        m[prefix + ".build_ms"] = mean(ph(t, "build") for t in ts)
        m[prefix + ".action_ms"] = mean(ph(t, "action") for t in ts)
        m[prefix + ".jobs"] = mean(cnt(t, "jobs") for t in ts)
        if prefix.startswith("algos"):
            m[prefix + ".tasks"] = mean(cnt(t, "tasks") for t in ts)
        m[prefix + ".shuffle_write_bytes"] = mean(cnt(t, "shuffle_write_bytes") for t in ts)
        m[prefix + ".checkpoint_bytes"] = mean(cnt(t, "rdd_bytes") for t in ts)
    m["jvm.gc_ms"] = mean(t["gc_ms"] for t in traced)
    m["jvm.heap_after_gc_mb"] = summary["heap_after_gc_mb"]
    m["bench.overhead_ms"] = mean(t["lat_ms"] - sum(t["phase_ms"].values()) for t in traced)
    twin = sum(t["twin_ms"] for t in traced)
    m["trace.overhead_ratio"] = sum(t["lat_ms"] for t in traced) / twin if twin else 1.0
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()

    t_start = time.time()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    classes, src_hash = build.build()
    data = build.corpus(SF)
    corpus_id = os.path.basename(data)

    con = wl.connect(data)
    n = WARMUP[args.workload] + (TRACE_OPS[args.workload] if args.trace
                                 else measured_ops(args.workload, args.seconds))
    ops = wl.make_ops(args.workload, args.seed, con, n, WARMUP[args.workload])
    oracle = wl.oracle_for(args.workload, con, EXPECTED, corpus_id)

    rundir = os.path.join(build.out_dir(), "runs",
                          f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        run_jvm(args, classes, data, ops, rundir)
        recs = jsonl(os.path.join(rundir, "results.jsonl"))
        with open(os.path.join(rundir, "summary.json")) as fh:
            summary = json.load(fh)
        traced = jsonl(os.path.join(rundir, "trace_ops.jsonl")) if args.trace else []
    finally:
        if not args.keep:
            shutil.rmtree(rundir, ignore_errors=True)

    by_id = {op["id"]: op for op in ops}
    failed, errors = 0, []
    for r in recs:
        try:
            ok = "answer" in r and wl.check_answer(args.workload, by_id[r["id"]],
                                                   r["answer"], oracle)
        except (KeyError, TypeError, ValueError, IndexError):
            ok = False
        if not ok:
            failed += 1
            if len(errors) < 5:
                errors.append({"id": r["id"], "cls": r["cls"],
                               "error": r.get("error", "wrong answer")})
    attempted = len(recs)

    m, named, samples = end_to_end(args.workload, recs, summary, failed, attempted)
    stamp = {
        "nproc": os.cpu_count(), "load_start": load_start, "load_end": os.getloadavg(),
        "cpu_steal": steal_share(cpu_start, cpu_times()),
        "heap_max_mb": summary["heap_max_mb"], "spark": summary["spark_version"],
        "jdk": summary["java_version"], "git_commit": git_commit(),
        "source_hash": src_hash, "seed": args.seed, "data": corpus_id,
        "data_dir": os.path.relpath(data, build.ROOT), "sf": SF,
        "warmup_ops": summary["warm_ops"], "measured_ops": summary["measured_ops"],
        "measure_s": summary["measure_s"], "setup_ms": summary["setup"],
        "wall_s": time.time() - t_start,
    }
    report = {"workload": args.workload, "trace": args.trace,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              "samples": samples, "env": stamp, "failures": errors}
    if args.trace:
        layers = per_layer(args.workload, traced, summary)
        report["layers"] = layers
        metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        log(f"failed: {e}")
        sys.exit(1)
