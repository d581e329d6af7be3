#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median, the figure each end-to-end
metric's bound is checked against.

    python3 perfbench/spread.py --workload export --seeds 1-10 [--seconds 8]
        [--trace 0] [--json out.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]

    runs = []
    for s in seeds(args.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              args.workload, "--seed", str(s), "--seconds", str(args.seconds),
                              "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or len(lines) < 2:
            sys.exit(f"seed {s}: run failed ({out.returncode})")
        record, result = json.loads(lines[-2])["run_record"], json.loads(lines[-1])
        runs.append({"seed": s, "wall_s": record["wall_s"], "phase_s": record["phase_s"],
                     "correct": result["correct"],
                     "failed": result["failed"],
                     "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
        print(f"seed {s}: wall {record['wall_s']:.1f} s, correct {result['correct']}", flush=True)

    bounds = {name: bound for name, _, _, bound in metrics.END_TO_END}
    print(f"{'metric':34} {'median':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:34} {med:12.5g} {spread:8.3f} {b if b is not None else '':>6}")
    print(f"mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s; "
          f"all correct: {all(r['correct'] for r in runs)}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)


if __name__ == "__main__":
    main()
