"""Regenerates `expected.json`: the batch jobs' answer hashes, computed
once from the DuckDB oracles graft keeps in `graft.SparkEntry.oracleSql`
(q_pagerank, q_kcore, q_labelprop, q_dedup_minhash) over the benchmark
corpus. Connected components has no stored hash; the benchmark checks it
with a union-find over RELATED_TO at run time.

    python3 perfbench/oracles.py

Run it from the checkout root after changing the corpus generator or the
corpus scale; it compiles the benchmark if needed (see build.py).
"""
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402

JOBS = {"pagerank": "q_pagerank", "kcore": "q_kcore", "labelprop": "q_labelprop",
        "dedup": "q_dedup_minhash"}


def main():
    classes, _ = build.build()
    data = build.corpus(run.SF)
    with tempfile.TemporaryDirectory(dir=build.out_dir()) as tmp:
        path = os.path.join(tmp, "oracles.json")
        subprocess.run(build.java_command(classes, "1g", tmp) + ["oracles", path],
                       check=True)
        with open(path) as fh:
            sql = json.load(fh)
    con = wl.connect(data)
    con.execute("SET threads TO 4")
    jobs = {}
    for job, q in JOBS.items():
        t0 = time.time()
        cur = con.execute(sql[q])
        cols = [d[0] for d in cur.description]
        rows = [list(r) for r in cur.fetchall()]
        jobs[job] = wl.canon_hash(cols, rows)
        print(f"{job}: {len(rows)} rows in {time.time() - t0:.1f}s", file=sys.stderr)
    out = {"corpus": os.path.basename(data),
           "regenerate": "python3 perfbench/oracles.py", "jobs": jobs}
    with open(run.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
