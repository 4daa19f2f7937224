#!/usr/bin/env python3
"""Check that the benchmark is steady: two sets of runs of one build.

    python3 perfbench/steady.py --runs 5                 # both sets, all workloads
    python3 perfbench/steady.py --runs 5 --workloads relay_tcp --sets 1
    python3 perfbench/steady.py --analyze .bench_build/steady.jsonl

Each set makes --runs untraced runs per workload, each with its own
seed (set k uses seeds base + k*runs ... base + (k+1)*runs - 1), with
the workloads interleaved. For every workload and end-to-end metric it
prints each set's median and quartiles, the spread (Q3 - Q1) / median
against the metric's bound from BENCHMARK.json, the spread of all runs
pooled, and how far the second set's median moved from the first in the
metric's worse direction. Raw results go to --out for re-analysis.

A metric is steady when every spread is within its bound (a third of
it is the target) and no median moved worse by more than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(bench, workload, seed, set_no):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(p.stderr[-3000:])
    return {"workload": workload, "seed": seed, "set": set_no, "exit": p.returncode,
            "wall_s": time.time() - t0, "result": result}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def analyze(bench, records):
    ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        recs = [r for r in records if r["workload"] == w]
        if not recs:
            continue
        bad = [r for r in recs if r["result"] is None]
        walls = [r["wall_s"] for r in recs]
        print(f"\n== {w}: {len(recs)} runs, {len(bad)} failed, "
              f"wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        if bad:
            ok = False
            print("   failed seeds: " + ", ".join(str(r["seed"]) for r in bad))
        good = [r for r in recs if r["result"] is not None]
        sets = [[r for r in good if r["set"] == k] for k in sorted({r["set"] for r in good})]
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            cells = []
            meds = []
            for s in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in s]
                if len(vals) < 2:
                    continue
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                flag = "" if sp <= bound / 3 else (
                    " (>1/3 bound)" if sp <= bound else " (>BOUND)")
                if sp > bound:
                    ok = False
                cells.append(f"med {med:.4g} [{q1:.4g}, {q3:.4g}] spread {sp:.3f}{flag}")
            allv = [r["result"]["metrics"][name]["value"] for r in good]
            pooled = spread(allv)[3] if len(allv) >= 2 else float("nan")
            shift = ""
            if len(meds) >= 2:
                worse = (meds[1] - meds[0]) / meds[0] if lower else (meds[0] - meds[1]) / meds[0]
                shift = f" | set2 worse by {worse:+.3f}"
                if worse > bound:
                    ok = False
                    shift += " (>BOUND)"
            print(f"  {name:18s} bound {bound:.2f} | " + " | ".join(cells)
                  + f" | pooled spread {pooled:.3f}{shift}")
    print("\nsteady" if ok else "\nNOT steady")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per workload per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="", help="comma list; default all")
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steady.jsonl"))
    ap.add_argument("--analyze", help="only analyze an existing results file")
    a = ap.parse_args()
    bench = load_bench()
    if a.analyze:
        records = [json.loads(l) for l in open(a.analyze)]
        return 0 if analyze(bench, records) else 1
    names = [x["name"] for x in bench["workloads"]]
    if a.workloads:
        names = [n for n in names if n in a.workloads.split(",")]
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    records = []
    with open(a.out, "w") as out:
        for k in range(a.sets):
            for i in range(a.runs):
                seed = a.seed_base + k * a.runs + i
                for w in names:
                    r = run_once(bench, w, seed, k)
                    records.append(r)
                    out.write(json.dumps(r) + "\n")
                    out.flush()
                    print(f"set {k + 1} run {i + 1} {w} seed {seed}: exit {r['exit']} "
                          f"{r['wall_s']:.1f} s", file=sys.stderr, flush=True)
    return 0 if analyze(bench, records) else 1


if __name__ == "__main__":
    sys.exit(main())
