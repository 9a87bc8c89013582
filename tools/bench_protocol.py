#!/usr/bin/env python3
"""Assemble a bench protocol artifact from solo `graft.Bench` run files.

One mode per protocol; each prints the artifact JSON to stdout.

  sf0.1   bench_protocol.py sf0.1 <bench_triple.jsonl> [prev_BENCH_LOCAL.json]
            > BENCH_LOCAL.json
  sf1     bench_protocol.py sf1 <run.json> [<run.json> ...] <BENCH_LOCAL.json>
            > BENCH_SF1.json
  skew    bench_protocol.py skew uni_1.json uni_2.json uni_3.json \\
            skew_1.json skew_2.json skew_3.json > BENCH_SKEW.json
  skew10  bench_protocol.py skew10 uni_1.json [uni_2.json ...] \\
            skew_1.json [skew_2.json ...] > BENCH_SKEW10.json
  lowmem  bench_protocol.py lowmem c8_1.json c8_2.json c8_3.json \\
            c4_1.json c4_2.json c4_3.json > BENCH_LOWMEM.json

sf0.1: one bench JSON line per run in a jsonl (3 or more). Per-query
medians and run totals; with the prior BENCH_LOCAL.json, a per-query ratio
distribution goes to stderr, so a uniform (ambient) band tells apart from
isolated real regressions.

sf1: one run file per solo full sf1 run, then the sf0.1 protocol file for
the scaling ratios. Single sf1 runs on identical code and data spanned
794.5/1013.2/920.0 s, so the citable number is the per-query median. Runs
may cover different query sets if the surface grew between them: a
query's median is over the runs that contain it.

skew, skew10, lowmem: two arms of equal size, control files first. Each
query's median in the treatment arm is divided by its median in the
same-session control arm, so the ambient band and subset inflation cancel.
  - skew: uniform /tmp/sf1 against /tmp/sf1skew (make_sf1_skew.py: one
    near-dup template family at 5% of docs, one exact text at 2.5% of the
    corpus, one user with 10% of events).
  - skew10: the same family transform on the 500k-doc sf10 corpus
    (make_sf10_skew.py), uniform /tmp/sf10 as the control.
  - lowmem: the heavy subset at sf1 under SPARK_DRIVER_MEM=8g (250 MB heap
    per slot on local[32]) against 4g (125 MB per slot). Runs must carry
    SPARK_GRAFT_SPILL=1: graceful spill, not OOM, is the claim under test,
    so the per-query spill bytes are part of the artifact. The 62 MB/slot
    OOM boundary (2g/32) is probed separately (BASELINE.md).
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def pct(rs, p):
    return rs[min(len(rs) - 1, int(p * len(rs)))]


def sf01(args):
    runs = []
    with open(args[0]) as f:
        for line in f:
            line = line.strip()
            if line:
                runs.append(json.loads(line))
    if len(runs) < 3:
        sys.exit(f"expected >=3 runs, got {len(runs)}")
    for r in runs:
        if r.get("failed"):
            sys.exit(f"run has failures: {r['failed']}")

    names = sorted(runs[0]["queries"])
    for r in runs[1:]:
        if sorted(r["queries"]) != names:
            sys.exit("runs cover different query sets")

    medians = {q: round(statistics.median(r["queries"][q] for r in runs), 3)
               for q in names}
    totals = [round(r["value"], 3) for r in runs]
    out = {
        "metric": "total",
        "value": round(statistics.median(totals), 3),
        "unit": "sec",
        "protocol": f"median-of-{len(runs)} solo full runs, local[32], sf0.1",
        "run_totals": totals,
        "n_queries": len(names),
        "queries": medians,
    }
    print(json.dumps(out, indent=1))

    if len(args) > 1:
        prev = load(args[1])["queries"]
        common = [q for q in names if q in prev and prev[q] > 0.05]
        ratios = sorted(medians[q] / prev[q] for q in common)
        n = len(ratios)
        msg = {
            "common_queries": n,
            "ratio_p10": round(ratios[n // 10], 3),
            "ratio_median": round(statistics.median(ratios), 3),
            "ratio_p90": round(ratios[9 * n // 10], 3),
            "new_queries": sorted(set(names) - set(prev)),
            "top_movers": sorted(
                ((q, round(medians[q] / prev[q], 2), prev[q], medians[q])
                 for q in common), key=lambda t: -t[1])[:8],
        }
        print("## vs previous protocol", file=sys.stderr)
        print(json.dumps(msg, indent=1), file=sys.stderr)


def sf1(args):
    if len(args) < 2:
        sys.exit(__doc__)
    runs = [load(f) for f in args[:-1]]
    prot = load(args[-1])
    for r in runs:
        if r.get("failed"):
            sys.exit(f"run has failures: {r['failed']}")

    allq = sorted(runs[-1]["queries"])
    partial = any(sorted(r["queries"]) != allq for r in runs)
    med = {q: round(statistics.median(
        [r["queries"][q] for r in runs if q in r["queries"]]), 3) for q in allq}

    ratios = {q: round(med[q] / prot["queries"][q], 2)
              for q in allq if prot["queries"].get(q, 0) > 0.05}
    rs = sorted(ratios.values())

    note = (" (surfaces differ between runs - a query's median is over the"
            " runs containing it)" if partial else "")
    out = {
        "metric": "total",
        "value": round(sum(med.values()), 3),
        "unit": "sec",
        "protocol": (f"median-of-{len(runs)} solo full runs, local[32], sf1 "
                     "(10x key-shifted replica set from tools/make_sf1.py), "
                     f"SPARK_GRAFT_QUERY_TIMEOUT=900{note}"),
        "failed": [],
        "n_queries": len(allq),
        "run_totals": [round(r["value"], 3) for r in runs],
        "sf0_1_protocol_total": prot["value"],
        "ratio_vs_sf0_1_protocol": {
            "p10": pct(rs, .1), "median": pct(rs, .5), "p90": pct(rs, .9),
            "max": max(rs),
            "over_10x": [q for q, r in ratios.items() if r > 10],
        },
        "queries": med,
        "ratios_vs_sf0_1": dict(sorted(ratios.items())),
    }
    print(json.dumps(out, indent=1))


# mode -> (control arm, treatment arm, protocol text given the runs per arm)
PAIRED = {
    "skew": ("uniform", "skew", lambda n: (
        f"median-of-{n} interleaved solo subset runs, local[32], "
        "uniform /tmp/sf1 vs /tmp/sf1skew (make_sf1_skew.py: "
        "one near-dup template family at 5% of docs incl. ONE "
        "exact text at 2.5% of the corpus; one user with 10% "
        "of events); same-session control cancels ambient")),
    "skew10": ("uniform", "skew", lambda n: (
        f"median-of-{n} interleaved solo subset runs, local[32], "
        "uniform /tmp/sf10 (500k docs) vs /tmp/sf10skew "
        "(make_sf10_skew.py: the sf1 skew family transform at "
        "10x absolute mass — 25k family docs, 12.5k on ONE "
        "exact text = 2.5% of the corpus); same-session "
        "uniform control cancels ambient")),
    "lowmem": ("control", "lowmem", lambda n: (
        f"median-of-{n} interleaved solo subset runs at sf1, "
        "local[32], SPARK_DRIVER_MEM=8g control (250 MB "
        "heap/slot) vs 4g constrained (125 MB/slot), "
        "SPARK_GRAFT_SPILL=1 on all runs; same-session "
        "control cancels ambient; 62 MB/slot OOM boundary "
        "probed separately")),
}


def med(runs, q):
    vals = [r["queries"][q] for r in runs]
    if any(v < 0 for v in vals):
        return -1.0
    return statistics.median(vals)


def paired(mode, paths):
    ctl, trt, protocol = PAIRED[mode]
    assert paths and len(paths) % 2 == 0, f"need equal {ctl} + {trt} run files"
    n = len(paths) // 2
    a = [load(p) for p in paths[:n]]
    b = [load(p) for p in paths[n:]]
    names = sorted(a[0]["queries"])
    for p, r in zip(paths, a + b):
        assert sorted(r["queries"]) == names, f"{p}: query set differs"
        assert r["failed"] == [], f"{p}: run has failures: {r['failed']}"
        if mode == "lowmem":
            assert "spill_bytes" in r, f"{p}: no spill_bytes — rerun with SPARK_GRAFT_SPILL=1"
            missing = [q for q in names if q not in r["spill_bytes"]]
            assert not missing, f"{p}: spill_bytes missing queries {missing[:5]}"

    a_med = {q: round(med(a, q), 3) for q in names}
    b_med = {q: round(med(b, q), 3) for q in names}
    ratios = {q: round(b_med[q] / a_med[q], 2) for q in names}
    rs = sorted(ratios.values())
    out = {
        "metric": f"{mode}_total",
        "value": round(statistics.median([r["value"] for r in b]), 3),
        "unit": "sec",
        "protocol": protocol(n),
        "n_queries": len(names),
    }
    if mode == "skew10":
        out["runs_per_arm"] = n
    out.update({
        f"{ctl}_total": round(statistics.median([r["value"] for r in a]), 3),
        f"{ctl}_run_totals": [round(r["value"], 3) for r in a],
        f"{trt}_run_totals": [round(r["value"], 3) for r in b],
        f"{ctl}_queries": a_med,
        f"{trt}_queries": b_med,
        f"ratio_{trt}_vs_{ctl}": {
            "p10": pct(rs, 0.10), "median": pct(rs, 0.50), "p90": pct(rs, 0.90),
            "max": rs[-1],
            "over_3x": sorted(q for q, v in ratios.items() if v > 3.0),
        },
        "ratios": ratios,
    })
    if mode == "lowmem":
        def spill(runs):
            return {q: [int(statistics.median([r["spill_bytes"][q][i] for r in runs]))
                        for i in (0, 1)] for q in names}
        spill_b, spill_a = spill(b), spill(a)
        out.update({
            "spill_bytes_lowmem": spill_b,
            "spill_bytes_control": spill_a,
            "spill_total_gb_lowmem": round(sum(m + d for m, d in spill_b.values()) / 2**30, 2),
            "spill_total_gb_control": round(sum(m + d for m, d in spill_a.values()) / 2**30, 2),
        })
    print(json.dumps(out, indent=1))


def main() -> None:
    mode, args = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else (None, [])
    if mode == "sf0.1":
        sf01(args)
    elif mode == "sf1":
        sf1(args)
    elif mode in PAIRED:
        paired(mode, args)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
