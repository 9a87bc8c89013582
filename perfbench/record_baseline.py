#!/usr/bin/env python3
"""Record the benchmark's baseline: two independent sets of untraced runs per
workload (distinct seeds) plus traced runs, written to perfbench/BASELINE.json.

    python3 perfbench/record_baseline.py

For each workload and set of ten runs it reports every end-to-end metric's
median, quartiles and spread ((q3 - q1) / median, from statistics.quantiles),
and the second set's median against the first's. From four traced runs it
reports the per-layer job counts, which must repeat exactly, and the tracing
overhead: in each traced run, the traced passes' median wall time minus that
of their untraced partners in the same JVM. The overhead is marked unresolved
when its median is smaller than the inter-quartile range of those paired
differences. Runs go one at a time; nothing else should run on the machine
meanwhile.
"""
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("tables.jobs", "build.jobs", "exec.jobs", "exec.stages", "exec.tasks",
          "iterative.jobs", "ingest.parse_jobs", "sink.jobs", "sink.batches",
          "stream.batches", "exchange.count", "trace.spans")
RUNS = 10
TRACED = 4


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    m = re.search(r"tail = (.*), failed", p.stderr)
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
           "elapsed_s": round(time.time() - t0, 1), "tail": m.group(1) if m else None,
           "result": res}
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "trace", "rc", "elapsed_s")}),
          file=sys.stderr, flush=True)
    return rec


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"seconds": seconds, "machine": f"{os.cpu_count()} cpus", "workloads": {}}
    for w in workloads:
        sets = []
        for s in range(2):
            seeds = [100 * (s + 1) + i for i in range(RUNS)]
            sets.append([run(w, seed, seconds, 0) for seed in seeds])
        # traced runs share a seed in pairs, so repeated counts are compared
        # on identical inputs as well as across seeds; the two seeds' parities
        # put the traced pass first in one pair and second in the other
        traced = [run(w, 900 + i // 2, seconds, 1) for i in range(TRACED)]
        rec = {"runs_per_set": RUNS, "sets": [], "traced": {}}
        for runs in sets:
            ok = [r for r in runs if r["rc"] == 0]
            rec["sets"].append({
                "seeds": [r["seed"] for r in runs], "failed_runs": len(runs) - len(ok),
                "elapsed_s_median": statistics.median(r["elapsed_s"] for r in runs),
                "tail": sorted({r["tail"] for r in ok}),
                "metrics": {k: stats([r["result"]["metrics"][k]["value"] for r in ok])
                            for k in bounds} if len(ok) >= 2 else {}})
        a, b = (st["metrics"] for st in rec["sets"])
        if a and b:
            rec["second_vs_first"] = {
                k: {"bound": bounds[k], "change": (b[k]["median"] - a[k]["median"]) / a[k]["median"],
                    "spread_within_bound": max(a[k]["spread"], b[k]["spread"]) <= bounds[k]}
                for k in bounds}
        tr = [r for r in traced if r["rc"] == 0]
        if tr:
            rec["traced"] = {
                "seeds": [r["seed"] for r in tr],
                "elapsed_s": [r["elapsed_s"] for r in tr],
                "counts": {k: [r["result"]["metrics"][k]["value"] for r in tr] for k in COUNTS},
                "per_layer_median": {k: statistics.median(r["result"]["metrics"][k]["value"] for r in tr)
                                     for k in tr[0]["result"]["metrics"]},
            }
            if len(tr) >= 2:
                diffs = [r["result"]["metrics"]["trace.wall_s"]["value"]
                         - r["result"]["metrics"]["trace.untraced_wall_s"]["value"] for r in tr]
                q1, _, q3 = statistics.quantiles(diffs, n=4)
                med = statistics.median(diffs)
                rec["traced"]["overhead_s"] = {
                    "median": med, "q1": q1, "q3": q3, "values": diffs,
                    "resolved": abs(med) > q3 - q1}
        out["workloads"][w] = rec
        with open(os.path.join(HERE, "BASELINE.json"), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
