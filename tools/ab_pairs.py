#!/usr/bin/env python3
"""Alternating A/B pairs of untraced benchmark runs: parent vs change.

Usage:
    python3 tools/ab_pairs.py BASE_DIR CHANGE_DIR --workload W --pairs N --seed0 S
        [--seconds 25] [--out DIR]

BASE_DIR and CHANGE_DIR are two checkouts (or `git archive` copies) outside
each other. Pair i runs `python3 perfbench/run.py --workload W --seed S+i
--seconds SECONDS --trace 0` once in each directory, base first on even i
and change first on odd i, so drift in the host's speed falls on both
sides alike. With --out, each run's stdout is kept as
`DIR/{base,change}_s{seed}.out`.

Prints, per side, the median and quartiles of every end-to-end metric that
`BENCHMARK.json` (read from CHANGE_DIR) lists and the median over runs of
each class's p50; per metric, the pairs the change won (ties count for
neither side); and whether the gain rule holds: the change wins at least
nine tenths of the pairs, and its median is better than the base's by more
than the distance between the base's quartiles. Quartiles come from
CHANGE_DIR's `perfbench/run.py` `pct`, the benchmark's own percentile
rule; result lines are parsed by `counter_diff.result_line`. A run that
exits non-zero or reports failed operations is listed and left out of the
statistics.
"""
import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys

from counter_diff import json_objects, result_line


def perfbench_pct(directory):
    """The percentile function of `directory`'s perfbench/run.py, so the
    quartiles here are computed as the benchmark computes its own."""
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(directory, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.pct


def run(directory, workload, seed, seconds):
    """One untraced run: (stdout, result line, report line or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=directory, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    result = result_line(lines)
    report = next((o["report"] for o in json_objects(lines) if "report" in o), None)
    if p.returncode != 0 or result is None:
        sys.stderr.write(p.stderr[-2000:])
        return p.stdout, None, None
    return p.stdout, result, report


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        e2e = json.load(fh)["end_to_end"]
    pct = perfbench_pct(args.change)
    if args.out:
        os.makedirs(args.out, exist_ok=True)

    sides = {"base": args.base, "change": args.change}
    runs = {"base": {}, "change": {}}  # seed -> (metrics, per-class p50)
    bad = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for side in order:
            out, result, report = run(sides[side], args.workload, seed, args.seconds)
            if args.out:
                with open(os.path.join(args.out, f"{side}_s{seed}.out"), "w") as fh:
                    fh.write(out)
            if result is None or result.get("failed"):
                bad.append(f"{side} seed {seed}: " + ("run failed" if result is None else
                           f"{result['failed']}/{result['attempted']} operations failed"))
                continue
            m = {k: v["value"] for k, v in result["metrics"].items()}
            cls = {c: s["p50_ms"] for c, s in (report or {}).get("samples", {}).items()
                   if c != "all"}
            runs[side][seed] = (m, cls)
            print(f"pair {i} seed {seed} {side}: " +
                  " ".join(f"{x['name']}={m.get(x['name'], float('nan')):.4g}" for x in e2e),
                  flush=True)

    print(f"\nworkload {args.workload}, {args.pairs} pairs from seed {args.seed0}, "
          f"{args.seconds:g} s runs")
    for b in bad:
        print("EXCLUDED", b)
    seeds = sorted(set(runs["base"]) & set(runs["change"]))
    if not seeds:
        print("no complete pair")
        return 1
    print(f"\n{'metric':<18}{'side':<8}{'median':>11}{'q1':>11}{'q3':>11}{'n':>4}")
    verdict = {}
    for x in e2e:
        name, lower = x["name"], x["better"] == "lower"
        vals = {s: [runs[s][k][0][name] for k in sorted(runs[s]) if name in runs[s][k][0]]
                for s in sides}
        if not vals["base"] or not vals["change"]:
            continue
        for s in sides:
            v = vals[s]
            print(f"{name:<18}{s:<8}{statistics.median(v):>11.4g}{pct(v, 25):>11.4g}"
                  f"{pct(v, 75):>11.4g}{len(v):>4}")
        wins = losses = 0
        for k in seeds:
            b, c = runs["base"][k][0][name], runs["change"][k][0][name]
            if c != b:
                if (c < b) == lower:
                    wins += 1
                else:
                    losses += 1
        mb, mc = statistics.median(vals["base"]), statistics.median(vals["change"])
        spread = pct(vals["base"], 75) - pct(vals["base"], 25)
        gain = (mb - mc) if lower else (mc - mb)
        holds = wins >= 0.9 * len(seeds) and gain > spread
        worse = -gain / mb if mb else 0.0
        verdict[name] = (wins, losses, len(seeds), gain, spread, holds, worse, x.get("bound"))
    print(f"\n{'metric':<18}{'wins':>5}{'losses':>7}{'pairs':>6}{'gain':>11}"
          f"{'base IQR':>11}  gain rule   change vs base")
    for name, (w, l, n, gain, spread, holds, worse, bound) in verdict.items():
        rel = f"{-worse:+.1%} better" if worse <= 0 else f"{worse:.1%} worse"
        if bound is not None and worse > bound:
            rel += f" (beyond bound {bound:g})"
        print(f"{name:<18}{w:>5}{l:>7}{n:>6}{gain:>11.4g}{spread:>11.4g}  "
              f"{'HOLDS' if holds else 'not met':<10}  {rel}")
    classes = sorted({c for s in sides for k in runs[s] for c in runs[s][k][1]})
    if classes:
        print(f"\n{'class p50 (ms)':<18}{'base':>11}{'change':>11}{'ratio':>9}")
        for c in classes:
            med = {s: statistics.median([runs[s][k][1][c] for k in runs[s] if c in runs[s][k][1]])
                   for s in sides}
            print(f"{c:<18}{med['base']:>11.1f}{med['change']:>11.1f}"
                  f"{med['change'] / med['base']:>9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
