#!/usr/bin/env python3
"""Steadiness tool for the benchmark.

Runs each workload of BENCHMARK.json repeatedly, alternating the workload
order from one round to the next, and prints for each end-to-end metric its
median, quartiles and spread (interquartile distance / median), and the
same figures for its wall-clock value with steal included and the host's
steal share (the run's `wall` line), and for the median latency of each
request kind (its `timing` lines). With --sets 2 it makes two sets of runs and says whether they agree within the
bounds in BENCHMARK.json: every spread but setup_s's within its bound,
every median of the second set within the bound of the first's (either
way), and the same share of failed operations. setup_s is one cold set-up
per run, a single sample exposed whole to the host's noise, so only its
median is held to the bound.

Run from the repository root:

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --runs 5 --workloads serve_churn --sets 1
    python3 perfbench/steady.py --load .bench_build/steady/results.json

Raw results are written to .bench_build/steady/results.json (--save).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "error": f"exit {p.returncode}",
                "wall_s": time.time() - t0}
    r = json.loads(lines[-1])
    wall, kinds = {}, {}
    for line in lines[:-1]:
        f = line.split()
        if f[:1] == ["wall"]:
            wall = {k: float(v) for k, v in (x.split("=") for x in f[1:])}
        elif f[:1] == ["timing"] and f[2] == "traced=false":
            kinds[f[1]] = float(f[5])
    r.update(workload=workload, seed=seed, wall_s=round(time.time() - t0, 1),
             wall=wall, kinds=kinds)
    return r


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def line(name, values, bound=None):
    med, q1, q3, spread = summary(values)
    flag = ""
    if bound is not None:
        flag = "steady" if spread <= bound / 3 else (
            "within bound" if spread <= bound else "TOO WIDE")
        flag = f"(bound {bound:.0%}) {flag}"
    print(f"    {name:<24} median {med:<12.6g} q1 {q1:<12.6g} "
          f"q3 {q3:<12.6g} spread {spread:6.1%} {flag}")
    return med, spread


def report(bench, runs_by_set):
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    verdict = True
    medians = {}
    for si, runs in enumerate(runs_by_set, 1):
        print(f"== set {si}: {len(runs)} runs")
        for w in workloads:
            rs = [r for r in runs if r["workload"] == w]
            if not rs:
                continue
            bad = [r for r in rs if "error" in r or not r["correct"]]
            good = [r for r in rs if "error" not in r]
            att = sum(r["attempted"] for r in good)
            fail = sum(r["failed"] for r in good)
            print(f"  {w}: {len(rs)} runs, {len(bad)} broken or incorrect, "
                  f"failed {fail}/{att} operations, "
                  f"wall median {statistics.median(r['wall_s'] for r in rs):.0f} s")
            verdict &= not bad
            shares = {(r["failed"], r["attempted"]) for r in good}
            if len({f / a for f, a in shares}) > 1:
                print(f"    failed share differs between runs: {sorted(shares)}")
                verdict = False
            medians.setdefault(w, []).append((fail / att if att else 0.0, {}))
            for name, spec in bounds.items():
                vals = [r["metrics"][name]["value"] for r in good if name in r["metrics"]]
                if not vals:
                    continue
                med, spread = line(name, vals, spec["bound"])
                medians[w][-1][1][name] = med
                verdict &= name == "setup_s" or spread <= spec["bound"]
                walls = [r["wall"][name] for r in good if name in r.get("wall", {})]
                if walls:
                    line(f"{name} (wall)", walls)
            steal = [r["wall"]["steal_pct"] for r in good if "steal_pct" in r.get("wall", {})]
            if steal:
                line("steal_pct", steal)
            for kind in sorted({k for r in good for k in r.get("kinds", {})}):
                line(f"p50 {kind} ms", [r["kinds"][kind] for r in good
                                        if kind in r.get("kinds", {})])
    if len(runs_by_set) >= 2:
        print("== agreement of set 2 with set 1")
        for w, sets in medians.items():
            if len(sets) < 2:
                continue
            (f1, m1), (f2, m2) = sets[0], sets[1]
            if f1 != f2:
                print(f"  {w}: failed share {f1:.4f} vs {f2:.4f}: DISAGREE")
                verdict = False
            for name, spec in bounds.items():
                if name not in m1 or name not in m2:
                    continue
                diff = (m2[name] - m1[name]) / m1[name]
                ok = abs(diff) <= spec["bound"]
                verdict &= ok
                print(f"  {w:<14} {name:<16} {m1[name]:<12.6g} -> "
                      f"{m2[name]:<12.6g} {diff:+.1%} "
                      f"(bound {spec['bound']:.0%}) {'ok' if ok else 'DISAGREE'}")
    print("VERDICT:", "agree within bounds" if verdict else "NOT within bounds")
    return verdict


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default="", help="comma list; default all")
    ap.add_argument("--save", default=".bench_build/steady/results.json")
    ap.add_argument("--load", default="", help="report saved results, run nothing")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if a.load:
        with open(a.load) as f:
            sets = json.load(f)
        sys.exit(0 if report(bench, sets) else 1)
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = [n for n in a.workloads.split(",") if n]
        bench["workloads"] = [{"name": n} for n in names]
    sets = []
    for s in range(a.sets):
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i + s * a.runs
            order = names if i % 2 == 0 else names[::-1]
            for w in order:
                r = run_once(w, seed, bench["run_seconds"])
                runs.append(r)
                print(f"set {s + 1} run {i + 1} {w} seed {seed}: "
                      f"{json.dumps({k: r[k] for k in ('correct', 'attempted', 'failed', 'metrics', 'wall', 'kinds', 'error', 'wall_s') if k in r})}",
                      flush=True)
        sets.append(runs)
        os.makedirs(os.path.dirname(a.save), exist_ok=True)
        with open(a.save, "w") as f:
            json.dump(sets, f, indent=1)
    sys.exit(0 if report(bench, sets) else 1)


if __name__ == "__main__":
    main()
