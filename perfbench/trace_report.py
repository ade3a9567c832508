#!/usr/bin/env python3
"""Traced runs, summarised layer by layer.

    python3 perfbench/trace_report.py --steadiness FILE [--workloads a,b] [--cores 4,1] [--out FILE]

Runs each workload once with --trace 1 per core count, then reports,
per run: every per-layer metric, each layer's self time per iteration,
the top spans by total time, and the tracing overhead, i.e. the traced
run's end-to-end figures against the untraced medians of a steadiness
report (same core count only). Run from the root of a checkout.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RECORDS = os.path.join(BENCH, ".work", "records")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--steadiness")
    ap.add_argument("--workloads")
    ap.add_argument("--cores", default=str(os.cpu_count()))
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    steady = json.load(open(a.steadiness))["workloads"] if a.steadiness else {}
    out = {"run_seconds": spec["run_seconds"], "seed": a.seed, "runs": []}
    for w in workloads:
        for cores in [int(c) for c in a.cores.split(",")]:
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(a.seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "1", "--cores", str(cores)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            result = json.loads(p.stdout.strip().splitlines()[-1])
            rec = json.load(open(os.path.join(RECORDS, f"{w}-seed{a.seed}-trace1-cores{cores}.json")))
            iters = max(len(rec["samples"]["freshness_s"]), 1)
            spans = collections.defaultdict(lambda: [0, 0.0])
            for s in rec["spans"]:
                spans[s["name"]][0] += 1
                spans[s["name"]][1] += (s["end_ms"] - s["start_ms"]) / 1e3
            run = {"workload": w, "cores": cores, "correct": result["correct"],
                   "attempted": result["attempted"], "failed": result["failed"],
                   "iterations": iters, "session_start_s": rec["session_start_s"],
                   "per_layer": {k: m["value"] for k, m in result["metrics"].items()},
                   "self_s_per_iteration": {k: v / iters for k, v in sorted(rec["self_s"].items())},
                   "spans_total_s": {k: {"count": c, "total_s": t}
                                     for k, (c, t) in sorted(spans.items(), key=lambda kv: -kv[1][1])},
                   "end_to_end_traced": {k: m["value"] for k, m in rec["end_to_end"].items()}}
            base = steady.get(w, {}).get("metrics", {})
            if base and cores == os.cpu_count():
                run["tracing_overhead"] = {
                    k: {"traced": v, "untraced_median": base[k]["median"],
                        "share": (v - base[k]["median"]) / base[k]["median"]}
                    for k, v in run["end_to_end_traced"].items() if k in base}
            out["runs"].append(run)
            print(f"{w} cores={cores}: correct={result['correct']}", file=sys.stderr)
    text = json.dumps(out, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
