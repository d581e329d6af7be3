#!/usr/bin/env python3
"""A/B the working tree against a base revision on one perfbench workload.

    python3 scripts/perf_ab.py --workload mixed_rw --pairs 10 --base HEAD~1 --seed0 11

The base revision is exported (`git archive`) into a temporary directory,
so the repository's own git metadata is left untouched. Each pair
runs `perfbench/run.py --workload W --seed S --seconds <run_seconds> --trace 0`
once on each side with the same seed (seed0, seed0 + 1, ...); the side that
runs first flips every pair. Every run is printed, then per end-to-end metric
of BENCHMARK.json (read only): both sides' median and quartiles, how many
pairs the change won, the base's quartile spread (Q3 - Q1), whether the
median gap exceeds that spread, and whether the change's median stays within
the metric's bound. A gain is resolved when the change wins at least 9 of 10
pairs and its median gap exceeds the base's quartile spread. Each side's
attempted and failed ops, summed over its runs, close the report with the
failed share, so a change that fails a larger share of ops than the base
shows.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIN_SHARE = 0.9


def load_spec(path):
    """(run_seconds, [(metric, better, bound)]) from BENCHMARK.json."""
    with open(path) as fh:
        bench = json.load(fh)
    return bench["run_seconds"], [(m["name"], m["better"], m["bound"])
                                  for m in bench["end_to_end"]]


def parse_result(stdout):
    """The result line (the last line perfbench prints) as
    {"correct", "attempted", "failed", "metrics": {name: value}, "failures"},
    where "failures" are the run record's (the line before) failure notes."""
    lines = stdout.strip().splitlines()
    if not lines:
        raise ValueError("no output")
    res = json.loads(lines[-1])
    record = json.loads(lines[-2])["run_record"] if len(lines) > 1 else {}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "failures": record.get("failures", [])}


def op_tally(results):
    """(attempted, failed, failed share) summed over one side's results; a
    side that attempted nothing counts as all failed, as perfbench's
    error_rate does."""
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    return attempted, failed, failed / attempted if attempted else 1.0


def report_ops(base_results, change_results):
    """Per side: attempted ops, failed ops and the failed share; then
    whether the change's failed share is no larger than the base's."""
    tallies = {"base": op_tally(base_results), "change": op_tally(change_results)}
    for side, (attempted, failed, share) in tallies.items():
        print(f"ops {side:6} attempted={attempted} failed={failed} failed_share={share:.2%}")
    ok = tallies["change"][2] <= tallies["base"][2]
    print(f"failed share no larger than base: {'yes' if ok else 'NO'}")
    return ok


def order(pair):
    """Which side runs first: the base on even pairs, the change on odd."""
    return ("base", "change") if pair % 2 == 0 else ("change", "base")


def quartiles(vals):
    """(Q1, median, Q3), quartiles by `statistics.quantiles` as
    perfbench/spread.py reports them."""
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def better(direction, a, b):
    """Whether value a is strictly better than b."""
    return a < b if direction == "lower" else a > b


def worsening(direction, base, change):
    """How much worse the change is than the base, as a share of the base
    (negative when it is better)."""
    diff = change - base if direction == "lower" else base - change
    if base == 0:
        return 0.0 if diff == 0 else math.copysign(math.inf, diff)
    return diff / abs(base)


def compare(spec, base_runs, change_runs):
    """One row per metric from pairwise metric dicts (base_runs[i] and
    change_runs[i] ran with the same seed)."""
    rows = []
    n = len(base_runs)
    for name, direction, bound in spec:
        b = [r[name] for r in base_runs]
        c = [r[name] for r in change_runs]
        bq1, bmed, bq3 = quartiles(b)
        cq1, cmed, cq3 = quartiles(c)
        wins = sum(1 for x, y in zip(c, b) if better(direction, x, y))
        spread = bq3 - bq1
        gap_beyond = abs(cmed - bmed) > spread
        worse = worsening(direction, bmed, cmed)
        rows.append({
            "metric": name, "better": direction, "bound": bound,
            "base": (bq1, bmed, bq3), "change": (cq1, cmed, cq3),
            "wins": wins, "pairs": n, "base_spread": spread,
            "gap_beyond_spread": gap_beyond,
            "worse_share": worse, "within_bound": worse <= bound,
            "resolved_gain": better(direction, cmed, bmed) and gap_beyond
            and n > 0 and wins >= math.ceil(WIN_SHARE * n),
        })
    return rows


def fmt(v):
    return f"{v:.4g}"


def report(rows):
    print(f"{'metric':20} {'base med [Q1,Q3]':>34} {'change med [Q1,Q3]':>34} "
          f"{'wins':>6} {'base Q3-Q1':>10} {'gap>spr':>7} {'worse':>7} "
          f"{'bound':>5} {'within':>6} {'gain':>5}")
    for r in rows:
        bq1, bmed, bq3 = r["base"]
        cq1, cmed, cq3 = r["change"]
        print(f"{r['metric']:20} {fmt(bmed) + ' [' + fmt(bq1) + ',' + fmt(bq3) + ']':>34} "
              f"{fmt(cmed) + ' [' + fmt(cq1) + ',' + fmt(cq3) + ']':>34} "
              f"{str(r['wins']) + '/' + str(r['pairs']):>6} {fmt(r['base_spread']):>10} "
              f"{'yes' if r['gap_beyond_spread'] else 'no':>7} "
              f"{r['worse_share']:>+7.1%} {r['bound']:>5} "
              f"{'yes' if r['within_bound'] else 'NO':>6} "
              f"{'yes' if r['resolved_gain'] else 'no':>5}")


def run_one(tree, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise RuntimeError(f"perfbench exited {out.returncode} in {tree} (seed {seed})")
    return parse_result(out.stdout)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--seed0", required=True, type=int)
    args = ap.parse_args()

    seconds, spec = load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    holder = tempfile.mkdtemp(prefix="perf_ab_")
    base_tree = os.path.join(holder, "base")
    os.mkdir(base_tree)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", args.base],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", base_tree], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"perf_ab: git archive {args.base} failed")
    trees = {"base": base_tree, "change": ROOT}
    results = {"base": [], "change": []}
    try:
        for pair in range(args.pairs):
            seed = args.seed0 + pair
            for side in order(pair):
                res = run_one(trees[side], args.workload, seed, seconds)
                results[side].append(res)
                ms = " ".join(f"{k}={fmt(v)}" for k, v in res["metrics"].items())
                print(f"pair {pair + 1} seed {seed} {side:6} first={order(pair)[0]:6} "
                      f"correct={res['correct']} attempted={res['attempted']} "
                      f"failed={res['failed']} {ms}", flush=True)
                for note in res["failures"]:
                    print(f"  failure: {note}", flush=True)
    finally:
        shutil.rmtree(holder, ignore_errors=True)

    print(f"\n{args.workload}: {args.pairs} pairs, base {args.base}, seeds "
          f"{args.seed0}-{args.seed0 + args.pairs - 1}")
    report(compare(spec, [r["metrics"] for r in results["base"]],
                   [r["metrics"] for r in results["change"]]))
    report_ops(results["base"], results["change"])


if __name__ == "__main__":
    main()
