#!/usr/bin/env python3
"""Steadiness report for the benchmark.

Runs `perfbench/run.py` RUNS times on every workload of BENCHMARK.json,
each time with another seed, in SETS independent sets, and writes
`STEADINESS.md` (and the raw values to `STEADINESS.json`) with, for every
end-to-end metric and workload: the median, the quartiles and the
relative spread (Q3 - Q1) / median of each set, the metric's bound from
BENCHMARK.json, and the A/A comparison of set 2's median against set 1's
(relative change in the metric's worse direction).

    python3 perfbench/steadiness.py

A spread check passes when the spread is within the bound; the A/A check
passes when no later set's median is worse than the first set's by more
than the bound.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS, SETS, FIRST_SEED = 10, 2, 101
OUT = os.path.join(HERE, "STEADINESS.md")


def run_once(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed: {workload} seed {seed}\n{r.stderr[-2000:]}")
    rows = next(l for l in r.stdout.splitlines() if l.startswith("workload="))
    return json.loads(r.stdout.strip().splitlines()[-1]), time.time() - t0, rows


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    e2e = bench["end_to_end"]

    lines = ["# Benchmark steadiness", "",
             f"{SETS} sets of {RUNS} runs per workload, one seed per run "
             f"(set k uses seeds {FIRST_SEED} + 100(k-1) + 0..{RUNS - 1}), "
             f"`--seconds {bench['run_seconds']}`, tracing off. Spread = (Q3 - Q1) / median "
             "with `statistics.quantiles(values, n=4)`. A/A = later set's median against "
             "set 1's, in the metric's worse direction.", ""]
    ok = True
    raw = {}
    for w in names:
        sets, durations, rows = [], [], ""
        for k in range(SETS):
            runs = []
            for i in range(RUNS):
                res, took, rows = run_once(w, FIRST_SEED + 100 * k + i, bench["run_seconds"])
                if not res["correct"]:
                    ok = False
                runs.append(res)
                durations.append(took)
            sets.append(runs)
        raw[w] = [[{k: v["value"] for k, v in r["metrics"].items()} for r in runs] for runs in sets]
        with open(os.path.splitext(OUT)[0] + ".json", "w") as f:
            json.dump(raw, f, indent=1)
        lines += [f"## {w}", "", f"Inputs: `{rows}`", "",
                  f"Run duration: median {statistics.median(durations):.1f} s, "
                  f"max {max(durations):.1f} s over {len(durations)} runs; "
                  f"failed query executions: {sum(r['failed'] for s in sets for r in s)} of "
                  f"{sum(r['attempted'] for s in sets for r in s)}.", "",
                  "| metric | bound | set | median | Q1 | Q3 | spread | A/A change | ok |",
                  "|---|---|---|---|---|---|---|---|---|"]
        for m in e2e:
            name, bound = m["name"], m["bound"]
            first = None
            for k, runs in enumerate(sets):
                st = stats([r["metrics"][name]["value"] for r in runs])
                spread_ok = st["spread"] <= bound
                change = ""
                aa_ok = True
                if first is None:
                    first = st["median"]
                else:
                    worse = (st["median"] - first) / first
                    if m["better"] == "higher":
                        worse = -worse
                    change = f"{worse:+.3f}"
                    aa_ok = worse <= bound
                ok = ok and spread_ok and aa_ok
                lines.append(f"| {name} | {bound} | {k + 1} | {st['median']:.4f} | {st['q1']:.4f} | "
                             f"{st['q3']:.4f} | {st['spread']:.3f} | {change} | "
                             f"{'yes' if spread_ok and aa_ok else 'NO'} |")
        lines.append("")
        with open(OUT, "w") as f:
            f.write("\n".join(lines) + "\n")
    lines.append(f"Overall: {'steady' if ok else 'NOT steady'}.")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
