#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
spread: (Q3 - Q1) / median over the runs, quartiles as Python's
statistics.quantiles(values, n=4) gives them.

Usage (from the repository root):

    python3 etlbench/steadiness.py --seeds 1-10 --out etlbench/evidence/set1.json
    python3 etlbench/steadiness.py --workloads versioned_ingest --seeds 1-5

Runs are sequential; each is `etlbench/run.py ... --trace 0`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    report = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {s} failed:\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": s, "correct": res["correct"],
                         "metrics": {k: v["value"]
                                     for k, v in res["metrics"].items()}})
            print(f"{w} seed {s}: correct={res['correct']} " + " ".join(
                f"{k}={v:.4g}" for k, v in sorted(runs[-1]["metrics"].items())),
                flush=True)
        spread = {}
        for m in sorted(runs[0]["metrics"]):
            vals = [r["metrics"][m] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread[m] = {"median": statistics.median(vals),
                         "iqr_over_median": (q3 - q1) / statistics.median(vals),
                         "bound": bounds.get(m)}
        report[w] = {"runs": runs, "spread": spread}
        for m, s in spread.items():
            print(f"{w} {m:<16} median={s['median']:.5g} "
                  f"spread={s['iqr_over_median']:.4f} bound={s['bound']}")
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
