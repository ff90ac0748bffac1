#!/usr/bin/env python3
"""The graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <smallfile_compact|day_loop>
                             --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, runs them against the
library's public entry points in one JVM (built from the sources next to
this directory on first use), checks every output, and prints a report
followed by one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import checks
import gen
import report

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.path.dirname(HERE), ".bench_work")
SETUP_REPS = 3
TIMEOUT_S = 170
DAY_TARGET_BYTES = 128 << 20  # the day loop's lake file target (DayLoop.scala)

# input sizes; "tiny" is the smoke-test size
SIZES = {
    "full": {"tree_files": 600, "files_per_hour": 60, "deltas": 8, "delta_files": 40,
             "warm_files": 60, "target_bytes": 8 << 10,
             "base_docs": 600, "days": 2, "day_docs": 150, "lookups_per_day": 8,
             "min_days": 1},
    "tiny": {"tree_files": 200, "files_per_hour": 50, "deltas": 2, "delta_files": 20,
             "warm_files": 40, "target_bytes": 4 << 10,
             "base_docs": 200, "days": 2, "day_docs": 40, "lookups_per_day": 2,
             "min_days": 2},
}

# Both workloads print every end-to-end metric; what each one measures
# on each workload is listed in README.md.
END_TO_END = [("setup_s", "s"), ("peak_heap_mb", "MB"), ("latency_p50_s", "s"),
              ("unit_s", "s"), ("unit_cpu_s", "s"), ("files_out_ratio", "ratio")]


def pct(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


# -------------------------------------------------------------------- set-up

def setup(workload, work, z, seed):
    """Generates one input set; returns (JVM params, what the checks need)."""
    if workload == "smallfile_compact":
        def tree(name, n_files, n_deltas, delta_files, seed):
            root = os.path.join(work, name)
            files = gen.smallfile_tree(root, n_files, z["files_per_hour"], seed)
            deltas = gen.smallfile_deltas(os.path.join(work, name + "_deltas"), n_files,
                                          z["files_per_hour"], n_deltas, delta_files, seed)
            return root, files, deltas

        def strip(ds):
            return [{k: v for k, v in d.items() if k != "files"} for d in ds]
        root, files, deltas = tree("tree", z["tree_files"], z["deltas"], z["delta_files"], seed)
        warm, _, warm_deltas = tree("warm_tree", z["warm_files"], 2, z["warm_files"] // 4, seed + 1)
        params = {"tree": root, "deltas": strip(deltas), "warm_tree": warm,
                  "warm_deltas": strip(warm_deltas), "target_bytes": z["target_bytes"],
                  "out_base": os.path.join(work, "out")}
        return params, {"files": files, "deltas": deltas}
    base, days, budget = gen.day_corpus(work, z["base_docs"], z["days"], z["day_docs"], 50,
                                        0.03, 0.05, z["lookups_per_day"], seed)
    params = {"base_dir": base, "base_date": "2026-09-01", "days": days, "budget": budget,
              "incoming": os.path.join(work, "incoming"), "lake": os.path.join(work, "lake"),
              "state": os.path.join(work, "state"), "check_dir": os.path.join(work, "check"),
              "min_days": z["min_days"]}
    return params, {}


# ------------------------------------------------------------ checks, metrics

def evaluate(state):
    """Checks every output and computes the metrics of a finished run.
    Returns (checks attempted, check failures, {named metric: value},
    {end-to-end metric: value})."""
    workload, res, ctx, z, params = (state[k] for k in
                                     ("workload", "result", "context", "size", "params"))
    fails, n = [], 0
    if workload == "smallfile_compact":
        want = {}
        for p, _ in ctx["files"]:
            with open(p, "rb") as f:
                want[p] = f.read()
        for d in ctx["deltas"]:
            for rel, _ in d["files"]:
                with open(os.path.join(d["staging"], rel), "rb") as f:
                    want[os.path.join(params["tree"], rel)] = f.read()
        ideal = math.ceil(sum(len(v) for v in want.values()) / z["target_bytes"])
        ratios = []
        for c in res["cycles"]:
            fails += checks.bundles_hold_every_file(c["bundles_dir"], want)
            fails += checks.passes_bundle_each_delta(c, ctx["deltas"])
            fails += checks.lake_holds_every_text_bundle(c["text_dir"], c["lake_dir"])
            n += 3
            ratios.append(len(checks.data_files(c["bundles_dir"], ".parquet")) / ideal)
        cycles = [c for c in res["cycles"] if "full_s" in c and "text_s" in c]
        if not cycles:
            return n, fails + ["no cycle completed"], {}, {}
        incr = [p["s"] for c in cycles for p in c["incremental"]]
        named = {
            "compact_files_per_s": statistics.median(c["full_files"] / c["full_s"] for c in cycles),
            "incr_pass_s": statistics.median(incr),
            "incr_pass_p90_s": pct(incr, 90),
            "noop_pass_s": statistics.median(c["noop_s"] for c in cycles),
            "flush_s": statistics.median(c["text_s"] + c["drain_s"] for c in cycles),
            "files_out_ratio": statistics.median(ratios),
        }
        stages = ("full_", "noop_", "text_", "drain_")
        e2e = {"latency_p50_s": named["incr_pass_s"],
               "unit_s": statistics.median(sum(c[p + "s"] for p in stages)
                                           + sum(p["s"] for p in c["incremental"])
                                           for c in cycles),
               "unit_cpu_s": statistics.median(sum(c[p + "cpu_s"] for p in stages)
                                               + sum(p["cpu_s"] for p in c["incremental"])
                                               for c in cycles),
               "files_out_ratio": named["files_out_ratio"],
               "peak_heap_mb": max(c["heap_mb"] for c in cycles)}
    else:
        days = res["days"]
        fails += checks.maintain_rewrites_only_new(days)
        fails += checks.lookups_return_one_row(days)
        n += len(days) + sum(len(d["lookups"]) for d in days) + 1
        if not days or not res.get("last_curated"):
            return n, fails + ["no day completed"], {}, {}
        fails += checks.rows_equal(res["last_curated"],
                                   os.path.join(params["check_dir"], "monolithic"))
        ratios = []
        for d in [params["base_date"]] + [d["date"] for d in days]:
            files = checks.data_files(os.path.join(params["lake"], f"date={d}"), ".parquet")
            ratios.append(len(files) / math.ceil(
                sum(os.path.getsize(f) for f in files) / DAY_TARGET_BYTES))
        lk = [x["s"] for d in days for x in d["lookups"]]
        day_s = statistics.median(d["day_s"] for d in days)
        named = {"bootstrap_s": res["bootstrap_s"], "day_s": day_s,
                 "lookup_p50_s": statistics.median(lk), "lookup_p90_s": pct(lk, 90),
                 "files_out_ratio": statistics.median(ratios)}
        e2e = {"latency_p50_s": named["lookup_p50_s"], "unit_s": day_s,
               "unit_cpu_s": statistics.median(d["day_cpu_s"] for d in days),
               "files_out_ratio": named["files_out_ratio"],
               "peak_heap_mb": max(d["heap_mb"] for d in days)}
    return n, fails, named, e2e


def operations(workload, res):
    if workload == "smallfile_compact":
        return sum(4 + len(c.get("incremental", [])) for c in res["cycles"])
    return 3 + sum(3 + len(d["lookups"]) for d in res["days"])


# ---------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["smallfile_compact", "day_loop"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; tiny is for the smoke tests")
    ap.add_argument("--keep", action="store_true",
                    help="keep the work directory (its state.json re-runs the checks)")
    a = ap.parse_args(argv)
    z = SIZES[a.size]
    cp = build.classpath(log)  # the first run in a checkout builds
    t_start = time.monotonic()
    load_before = os.getloadavg()[0]
    steal_before = cpu_times()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    # set-up is repeated and its median reported; the first input set is used
    gen_s = []
    for rep in range(SETUP_REPS):
        t0 = time.monotonic()
        p, ctx = setup(a.workload, os.path.join(work, f"rep{rep}"), z, a.seed)
        gen_s.append(time.monotonic() - t0)
        if rep == 0:
            params, context = p, ctx
    with open(os.path.join(work, "params.json"), "w") as f:
        json.dump(params, f)

    cmd = build.java_cmd(cp, "perfbench.Main",
                         ["--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--cores", str(cores)],
                         os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"perfbench: the JVM did not finish in time, see {work}/jvm.log")
            return 3
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        log(f"perfbench: the JVM failed (exit {rc}), see {work}/jvm.log")
        return 3
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    state = {"workload": a.workload, "result": res, "context": context, "size": z,
             "params": params}
    with open(os.path.join(work, "state.json"), "w") as f:
        json.dump(state, f)

    n_checks, check_fails, named, e2e = evaluate(state)
    n_ops = operations(a.workload, res)
    failed = len(res["failures"]) + len(check_fails)
    attempted = n_ops + n_checks
    setup_s = statistics.median(gen_s) + res["session_start_s"] + res["warmup_s"]
    e2e["setup_s"] = setup_s
    named.update(setup_s=setup_s, peak_heap_mb=e2e.get("peak_heap_mb", 0),
                 error_rate=failed / attempted)

    # host contention stamps: a run that shared its cores advertises itself
    steal = [x - y for x, y in zip(cpu_times(), steal_before)]
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"nproc={cores} load1_before={load_before:.2f} load1_after={os.getloadavg()[0]:.2f} "
          f"cpu_steal_share={steal[0] / max(1, steal[1]):.3f}")
    print(f"# set-up: generation {statistics.median(gen_s):.3f}s (median of {SETUP_REPS}), "
          f"session {res['session_start_s']:.3f}s, warm-up {res['warmup_s']:.3f}s")
    for k, v in named.items():
        print(f"# {k} = {v:.6g}")
    for msg in (res["failures"] + check_fails)[:20]:
        print(f"# FAILED: {msg}")
    print(f"# checks: {n_checks - len(check_fails)}/{n_checks} passed; "
          f"operations: {n_ops - len(res['failures'])}/{n_ops} succeeded")

    untraced_file = os.path.join(WORK, f"untraced_{a.workload}.json")
    if a.trace:
        layers, tr = report.per_layer(res, cores)
        print("# spans (median per call):")
        for row in report.layer_table(tr):
            print("#" + row)
        if os.path.exists(untraced_file) and len(e2e) == len(END_TO_END):
            with open(untraced_file) as f:
                base = json.load(f)
            for k, _ in END_TO_END:
                print(f"# tracing overhead {k}: {e2e[k] - base[k]:+.6g} "
                      f"(traced {e2e[k]:.6g}, untraced {base[k]:.6g} at seed {base['seed']})")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        if failed == 0:
            with open(untraced_file, "w") as f:
                json.dump(dict(e2e, seed=a.seed), f)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END if k in e2e}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
