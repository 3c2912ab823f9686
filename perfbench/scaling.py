#!/usr/bin/env python3
"""Input-proportional share of `job_s`, from runs at two input sizes.

  python3 perfbench/scaling.py [--scale 4] [--runs 3] [--workloads a,b] [--seed0 1]

Runs perfbench/run.py `--runs` times per workload at the benchmark's own
input size and at `--scale` times it (same seeds), and prints the median
`job_s` and `cold_s` of each. Assuming time = fixed + proportional x size,
the proportional share of the benchmark-size `job_s` is

  (job_s(scale) - job_s(1)) / ((scale - 1) * job_s(1))

0 means the iteration is all fixed cost (scheduling, planning, start-up
of jobs and triggers); 1 means it is all proportional to the input.
Raw results are appended to .bench_build/scaling.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, scale):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
                        "--scale", str(scale)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} scale {scale}: exit {r.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed} scale {scale}: incorrect result")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=4)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    log = open(os.path.join(ROOT, ".bench_build", "scaling.jsonl"), "a")
    for wl in a.workloads.split(","):
        med = {}
        for scale in (1, a.scale):
            vals = []
            for k in range(a.runs):
                m = run_once(wl, a.seed0 + k, bench["run_seconds"], scale)
                log.write(json.dumps({"workload": wl, "scale": scale, "seed": a.seed0 + k,
                                      **m}) + "\n")
                log.flush()
                vals.append(m)
            med[scale] = {n: statistics.median(v[n] for v in vals) for n in ("job_s", "cold_s")}
        j1, jk = med[1]["job_s"], med[a.scale]["job_s"]
        share = (jk - j1) / ((a.scale - 1) * j1)
        print(f"{wl}: job_s {j1:.3f} s at x1, {jk:.3f} s at x{a.scale}; "
              f"cold_s {med[1]['cold_s']:.3f} s -> {med[a.scale]['cold_s']:.3f} s; "
              f"input-proportional share of job_s at x1: {share:.3f}", flush=True)


if __name__ == "__main__":
    main()
