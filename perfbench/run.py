#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and harness from source when stale (perfbench/build.py),
makes the seeded inputs once per (workload, seed, size) (perfbench/gen.py),
then runs the workload in one JVM on a local Spark session with one core
per CPU. Outputs are checked against independent expectations; the last
stdout line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. Everything a run leaves behind goes under .bench_build/
in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402

# Input sizes (fixed: the seed varies the data, never its size).
SIZES = {
    "fjc_elt": {"rows": 6000},
    "corpus_curate": {"docs": 1000},
    "event_stream": {"files": 2, "per_file": 3000},
}
XMX = "2g"
YOUNG = "256m"
KEEP_INPUTS = 12          # cached input sets kept per workload
ARCHIVE = os.path.join(OUT, "cds", "harness.jsa")
DEADLINE_S = 170          # a run must end within this, after the build

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Cached inputs are keyed by the generators' sources too, so a changed
# generator never reuses inputs an older one made.
GEN_VERSION = hashlib.sha256(b"".join(
    open(os.path.join(HERE, *f), "rb").read()
    for f in (("gen.py",), ("scala", "FjcGen.scala")))).hexdigest()[:10]

# Metric names and units come from BENCHMARK.json at the checkout root.
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java_cmd(cp, tmp, main, args, cds=()):
    # The heap is committed at its full size and the young generation is
    # fixed, so the garbage collector never resizes either on its
    # timing-driven heuristics (which made peak RSS vary by up to 40%
    # between identical runs). Pages become resident only when touched, so
    # peak RSS is the 256 MB young generation plus the old-generation and
    # off-heap memory the workload actually uses. No hsperfdata file in
    # /tmp; call sites deep enough to name the library method behind each
    # SQL execution.
    return (["java", f"-Xms{XMX}", f"-Xmx{XMX}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
             "-XX:ReservedCodeCacheSize=512m"] + list(cds) + ADD_OPENS +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.callstack.depth=64",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-cp", ":".join(cp), main] + args)


def child_env(tmp):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    return env


def sized(workload, scale):
    """Input size of a workload, `scale` times the benchmark's own."""
    return {k: v * scale if k != "files" else v for k, v in SIZES[workload].items()}


def inputs(workload, seed, size, cp, tmp):
    """Directory of the seeded inputs, generated on first use."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items())) + "-g" + GEN_VERSION
    root = os.path.join(OUT, "inputs")
    d = os.path.join(root, f"{workload}-s{seed}-{tag}")
    if os.path.exists(os.path.join(d, "DONE")):
        os.utime(d)
        return d
    part = d + ".part"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    t0 = time.time()
    import gen  # numpy, pyarrow and duckdb load only when inputs are made
    if workload == "fjc_elt":
        tsv = os.path.join(part, "fjc.tsv")
        subprocess.run(java_cmd(cp, tmp, "graft.bench.FjcGen",
                                [str(seed), str(size["rows"]), tsv]),
                       check=True, env=child_env(tmp), timeout=120)
        gen.fjc_expected(tsv, part)
    elif workload == "corpus_curate":
        gen.corpus(seed, size["docs"], part)
    else:
        gen.events(seed, size["files"], size["per_file"], part)
    open(os.path.join(part, "DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(part, d)
    log(f"generated {os.path.basename(d)} in {time.time() - t0:.1f} s")
    # keep the cache small: drop the least recently used input sets
    mine = sorted((p for p in os.listdir(root) if p.startswith(workload + "-s")
                   and not p.endswith(".part")),
                  key=lambda p: os.path.getmtime(os.path.join(root, p)))
    for old in mine[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return d


def class_archive(cp, tmp):
    """The JVM class-data archive of the harness classpath, made when
    missing or stale by a training JVM that runs the cold iteration of
    every workload on seed-0 inputs (graft.bench.Train). Loading Spark's
    classes from it instead of from the jars takes about 4 s off set-up
    and 3 s off a cold iteration on a 4-CPU VM, so more of both is the
    library's own start-up cost."""
    stamp = hashlib.sha256("\n".join(cp).encode())
    for jar in cp[:2]:  # the harness and library jars; Spark's jars are fixed
        stamp.update(open(jar + ".stamp", "rb").read())
    stamp = stamp.hexdigest()
    os.makedirs(os.path.dirname(ARCHIVE), exist_ok=True)
    if os.path.exists(ARCHIVE) and os.path.exists(ARCHIVE + ".stamp") \
            and open(ARCHIVE + ".stamp").read() == stamp:
        return ARCHIVE
    t0 = time.time()
    names = sorted(SIZES)
    dirs = [inputs(w, 0, SIZES[w], cp, tmp) for w in names]
    work = os.path.join(OUT, "work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    part = ARCHIVE + ".part"
    if os.path.exists(part):
        os.remove(part)
    try:
        with open(os.path.join(work, "jvm.log"), "w") as err:
            # exits on its own: the archive is written at JVM exit
            r = subprocess.run(java_cmd(cp, os.path.join(work, "tmp"), "graft.bench.Train", [
                "--cores", str(len(os.sched_getaffinity(0))), "--work", work,
                "--workloads", ",".join(names), "--inputs", ",".join(dirs)],
                cds=[f"-XX:ArchiveClassesAtExit={part}"]),
                cwd=work, env=child_env(os.path.join(work, "tmp")), stdout=err, stderr=err,
                timeout=600)
        if r.returncode != 0 or not os.path.exists(part):
            tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:]
            raise RuntimeError(f"class-data training JVM exited {r.returncode}\n{tail}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.replace(part, ARCHIVE)
    with open(ARCHIVE + ".stamp", "w") as fh:
        fh.write(stamp)
    log(f"made the class-data archive in {time.time() - t0:.1f} s")
    return ARCHIVE


def launch(cp, tmp, work, args, deadline, archive):
    """Run the harness JVM; return (result dict, set-up seconds: process
    launch to session ready)."""
    out = os.path.join(work, "result.json")
    stopped = out + ".stopped"
    errlog = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(errlog, "a") as err:
        p = subprocess.Popen(java_cmd(cp, tmp, "graft.bench.Main", args + ["--out", out],
                                      cds=[f"-XX:SharedArchiveFile={archive}"]),
                             cwd=work, env=child_env(tmp), stdout=err, stderr=err)
        try:
            while p.poll() is None and not os.path.exists(stopped):
                if time.time() > deadline:
                    raise RuntimeError("harness JVM did not finish before the deadline")
                time.sleep(0.05)
            # A JVM whose work is done can still take seconds to exit: it
            # waits for in-flight JIT compilations. The session has stopped
            # and the result is written, so stop it after a short grace.
            try:
                p.wait(timeout=0.3)
            except subprocess.TimeoutExpired:
                pass
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    if not os.path.exists(stopped) or not os.path.exists(out):
        tail = open(errlog, errors="replace").read()[-4000:]
        raise RuntimeError(f"harness JVM exited {p.returncode}\n{tail}")
    res = json.load(open(out))
    # the JVM warns, and loads the classes from the jars, when it cannot
    # use the archive
    res["env"]["class_archive"] = "[cds]" not in open(errlog, errors="replace").read()
    return res, res["ready_ms"] / 1000.0 - t0


def cpu_jiffies():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="input size multiple (perfbench/scaling.py; the benchmark uses 1)")
    a = ap.parse_args()
    started = time.time()
    cp = build.build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    base = ["--cores", str(cores), "--work", work, "--seed", str(a.seed)]
    try:
        # a first run may also spend up to 900 s building and training
        archive = class_archive(cp, tmp)
        deadline = time.time() + DEADLINE_S
        inp = inputs(a.workload, a.seed, sized(a.workload, a.scale), cp, tmp)
        steal0, total0 = cpu_jiffies()
        launched = time.time()
        res, setup = launch(cp, tmp, work, base + [
            "--workload", a.workload, "--input", inp,
            "--seconds", str(a.seconds), "--trace", str(a.trace)], deadline, archive)
        steal1, total1 = cpu_jiffies()
        exited = time.time()
        spans = os.path.join(work, "spans.jsonl")
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        stem = os.path.join(OUT, "results", f"{a.workload}-s{a.seed}-x{a.scale}-t{a.trace}")
        if os.path.exists(spans):
            shutil.copy(spans, stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    its = res["iterations"]
    warm = [it for it in its[1:] if not it["traced"]]
    traced = [it for it in its[1:] if it["traced"]]
    ok_warm = [it for it in warm if it["ok"]]
    ops = [x for it in ok_warm for x in it["ops_ms"]]
    attempted = sum(it["attempted"] for it in its)
    failed = sum(it["failed"] for it in its)
    env = res["env"]
    e2e = {
        "setup_s": setup,
        "cold_s": its[0]["job_s"],
        "job_s": statistics.median(it["job_s"] for it in ok_warm) if ok_warm else float("nan"),
        "op_p50_ms": quantile(ops, 0.5),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    # workload-specific figures for the human-readable summary line
    named = {"fail_frac": failed / max(1, attempted), "op_samples": len(ops),
             "op_p90_ms": quantile(ops, 0.9), "warm_iterations": len(warm)}
    if a.workload == "fjc_elt":
        named["out_bytes_per_in_byte"] = statistics.median(
            it["extra"]["out_bytes"] for it in its) / env["input_bytes"]
    elif a.workload == "corpus_curate":
        named["admit_s"] = e2e["op_p50_ms"] / 1e3
    else:
        named["events_per_s"] = sum(it["extra"]["events"] for it in ok_warm) / max(
            1e-9, sum(it["job_s"] for it in ok_warm))
        named["batch_p50_ms"] = e2e["op_p50_ms"]
        named["batch_p90_ms"] = named["op_p90_ms"]
    correct = failed == 0 and bool(ok_warm) and len(ops) > 0
    if a.trace:
        layer = {k: float(res["layers"].get(k, 0.0)) for k in PER_LAYER}
        tj = [it["job_s"] for it in traced if it["ok"]]
        layer["trace.overhead_s"] = (statistics.median(tj) - e2e["job_s"]) if tj else float("nan")
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
        correct = correct and res["self_ok"]
        named["self_s_by_layer"] = res["self_s_by_layer"]
        named["spans"] = res["spans"]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for it in its:
        if not it["ok"]:
            log(f"iteration {it['i']} failed: {it['note']}")
    # where the run's wall time went (seconds)
    phases = {"before_launch": launched - started,
              "launch_to_ready": setup, "prepare": (res["prepared_ms"] - res["ready_ms"]) / 1e3,
              "iterations": (res["end_ms"] - res["prepared_ms"]) / 1e3,
              "result_to_exit": exited - res["end_ms"] / 1e3,
              "total": time.time() - started,
              # share of CPU time the hypervisor took from this VM during the JVM run
              "steal_share": (steal1 - steal0) / max(1, total1 - total0)}
    summary = {"workload": a.workload, "env": env, "phases_s": phases, **named}
    if not a.trace:
        summary.update({k: f"{v:.4f} {END_TO_END[k]}" for k, v in e2e.items()})
    json.dump({"summary": summary, "result": res}, open(stem + ".json", "w"), indent=1)
    print("summary " + json.dumps(summary, default=str))
    for m in metrics.values():  # a run without a passing warm iteration has no value
        if m["value"] != m["value"]:
            m["value"], correct = 0.0, False
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
