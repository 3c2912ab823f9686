#!/usr/bin/env python3
"""Steadiness check: sets of benchmark runs on the same code.

  python3 perfbench/steady.py [--sets 2] [--runs 10] [--workloads a,b] [--seed0 1]

Runs perfbench/run.py `--runs` times per workload in each set, each run
with its own seed (the same seeds in every set), and prints for every
end-to-end metric of BENCHMARK.json its median, quartiles and
quartile spread (IQR / median) per set and workload, whether that spread
is within the metric's bound, and whether the second set's median is
within the bound of the first, in either direction. Exit 1 when a check
fails. Raw results are appended to .bench_build/steady.jsonl.
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


def run_once(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    metrics = bench["end_to_end"]
    log = open(os.path.join(ROOT, ".bench_build", "steady.jsonl"), "a")
    ok = True
    for wl in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            vals = {m["name"]: [] for m in metrics}
            walls = []
            for k in range(a.runs):
                seed = a.seed0 + k
                res = run_once(wl, seed, bench["run_seconds"])
                log.write(json.dumps({"workload": wl, "set": s, "seed": seed, **res}) + "\n")
                log.flush()
                if not res["correct"] or res["failed"]:
                    print(f"{wl} set {s} seed {seed}: incorrect result")
                    ok = False
                for m in metrics:
                    vals[m["name"]].append(res["metrics"][m["name"]]["value"])
                walls.append(res["wall_s"])
            sets.append(vals)
            print(f"\n{wl} set {s}: {a.runs} runs, wall median {statistics.median(walls):.1f} s, "
                  f"max {max(walls):.1f} s")
            for m in metrics:
                v = vals[m["name"]]
                q1, med, q3 = statistics.quantiles(v, n=4)
                spread = (q3 - q1) / statistics.median(v)
                good = spread <= m["bound"]
                ok &= good
                print(f"  {m['name']:<14} median {statistics.median(v):12.4f} {m['unit']:<5} "
                      f"q1 {q1:12.4f} q3 {q3:12.4f} spread {spread:6.3f} bound {m['bound']:.2f} "
                      f"{'ok' if good else 'TOO WIDE'}"
                      f"{'' if spread < m['bound'] / 3 else ' (above bound/3)'}")
        for s in range(1, len(sets)):
            print(f"{wl}: set {s} vs set 0")
            for m in metrics:
                m0 = statistics.median(sets[0][m["name"]])
                m1 = statistics.median(sets[s][m["name"]])
                worse = (m1 - m0) / m0 if m["better"] == "lower" else (m0 - m1) / m0
                good = abs(m1 - m0) / m0 <= m["bound"]
                ok &= good
                print(f"  {m['name']:<14} {m0:12.4f} -> {m1:12.4f} worse by {worse:+.3f} "
                      f"(bound {m['bound']:.2f}) {'agree' if good else 'DISAGREE'}")
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
