#!/usr/bin/env python3
"""Run each workload once per seed and report how steady each metric is.

    python3 perfbench/steadiness.py --seeds 10 [--workloads rt_cycle,backfill] [--out FILE]

For every end-to-end metric: the median over the runs, and the
distance between the first and third quartile as a share of that
median (statistics.quantiles(values, n=4)), next to the metric's bound
in BENCHMARK.json. Also pools every run's per-iteration freshness
samples and reports the highest percentile that has at least ten
samples beyond it. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RECORDS = os.path.join(BENCH, ".work", "records")


def tail(samples):
    """(percentile, value, n): the highest percentile with >= 10 samples above it."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return None
    return 100 * (n - 10) // n, s[n - 11], n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "cores": os.cpu_count(), "workloads": {}}
    for w in workloads:
        values, fresh, walls, bad = {}, [], [], 0
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            r = json.loads(p.stdout.strip().splitlines()[-1])
            bad += 0 if r["correct"] and r["failed"] == 0 else 1
            for k, m in r["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            rec = json.load(open(os.path.join(RECORDS, f"{w}-seed{seed}-trace0-cores{os.cpu_count()}.json")))
            fresh += rec["samples"]["freshness_s"]
            print(f"{w} seed {seed}: {walls[-1]:.0f} s, correct={r['correct']}", file=sys.stderr)
        metrics = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            metrics[k] = {"median": med, "iqr_share": (q3 - q1) / med, "bound": bounds.get(k),
                          "values": vs}
        t = tail(fresh)
        report["workloads"][w] = {
            "runs": a.seeds, "runs_not_correct": bad, "run_wall_s_median": statistics.median(walls),
            "metrics": metrics,
            "freshness_pooled": {"samples": len(fresh), "p50_s": statistics.median(fresh),
                                 "tail": None if t is None else {"percentile": t[0], "value_s": t[1]}}}
        for k, m in metrics.items():
            flag = "" if m["bound"] is None or k == "setup_s" or m["iqr_share"] < m["bound"] / 3 else "  <-- wide"
            print(f"{w:12s} {k:28s} median {m['median']:.4g}  iqr/median {m['iqr_share']:.3f}"
                  f"  bound {m['bound']}{flag}", file=sys.stderr)
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
