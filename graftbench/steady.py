#!/usr/bin/env python3
"""Steadiness evidence for the benchmark: repeated runs, quartiles and spreads.

Run from the repository root, for example

    python3 graftbench/steady.py --runs 10 --first-seed 101 --out steady.json

For each workload of BENCHMARK.json it makes --runs untraced runs with seeds
first-seed, first-seed+1, ..., then --traced traced runs. For every end-to-end
metric it reports the median, the quartiles (statistics.quantiles, n=4) and
the spread (Q3 - Q1) / median, and flags a spread above a third of the
metric's bound (setup_s excepted). The tracing overhead is each traced run's
end-to-end figure against the untraced median.
"""

import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    e2e = re.findall(r"\[graftbench\] end_to_end (\{.*\})", proc.stderr)
    result["end_to_end"] = json.loads(e2e[-1]) if e2e else {}
    return result


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated subset of BENCHMARK.json's workloads")
    ap.add_argument("--out", required=True, help="JSON report")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in workloads:
        runs = []
        for i in range(args.runs):
            r = one_run(w, args.first_seed + i, bench["run_seconds"], 0)
            runs.append(r)
            print(f"{w} seed {args.first_seed + i}: correct={r['correct']} failed={r['failed']}/"
                  f"{r['attempted']} " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        metrics = {name: summary([r["metrics"][name]["value"] for r in runs]) for name in bounds}
        for name, s in metrics.items():
            s["bound"] = bounds[name]
            s["steady"] = name == "setup_s" or s["spread"] <= bounds[name] / 3
        traced = []
        for i in range(args.traced):
            r = one_run(w, args.first_seed + args.runs + i, bench["run_seconds"], 1)
            traced.append({"layers": {k: v["value"] for k, v in r["metrics"].items()},
                           "overhead": {k: v / metrics[k]["median"] - 1
                                        for k, v in r["end_to_end"].items() if metrics[k]["median"]}})
        report[w] = {"all_correct": all(r["correct"] for r in runs),
                     "failed": sum(r["failed"] for r in runs),
                     "attempted": sum(r["attempted"] for r in runs),
                     "metrics": metrics, "traced": traced}
        for name, s in metrics.items():
            print(f"  {w:12s} {name:11s} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
                  f"spread={s['spread']:.3f} bound={s['bound']} {'ok' if s['steady'] else 'NOISY'}",
                  flush=True)
    Path(args.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
