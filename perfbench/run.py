#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload export|mixed_rw|dedup --seed N \
        --seconds S --trace 0|1 [--tiny]

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM at local[<cores>], checks every output against the
generator's model, and prints two JSON lines: the run record, then the
result `{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones (metrics.py).
`--tiny` shrinks the inputs for smoke tests.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

# The whole run, build excluded, must end well inside three minutes.
JVM_TIMEOUT_S = 165


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, work, out):
    cmd = build.java_command(classes) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--master", f"local[{cores()}]", "--work", work, "--out", out]
    if args.tiny:
        cmd.append("--tiny")
    log = os.path.join(build.BUILD, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s (log: {log})")
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {code}:\n{tail}")


def op_metrics(fg):
    """mixed_rw latency by op type."""
    out = {}
    for kind in ("put", "delete", "get", "index_get", "scan", "tail"):
        secs = [(o["t1"] - o["t0"]) / 1e9 for o in fg if o["kind"] == kind]
        out[f"op.{kind}_n"] = len(secs)
        out[f"op.{kind}_p50_s"] = statistics.median(secs) if secs else 0.0
        if f"op.{kind}_p90_s" in metrics.UNITS:
            out[f"op.{kind}_p90_s"] = stats.percentile(secs, 90) if stats.reportable(secs, 90) else 0.0
    return out


def work_per_s(ops):
    """Units of work per second, from each op kind's median time: a slow
    outlier op moves it no more than it moves a median."""
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o)
    units = time = 0.0
    for kind_ops in by_kind.values():
        units += sum(o["units"] for o in kind_ops)
        time += len(kind_ops) * statistics.median((o["t1"] - o["t0"]) / 1e9 for o in kind_ops)
    return units / time if time else 0.0


def summarize(raw, trace):
    ops = raw["ops"]
    fg = [o for o in ops if o["phase"] == "run" and not o["kind"].startswith("bg_")]
    secs = [(o["t1"] - o["t0"]) / 1e9 for o in fg]
    by_kind = {}
    for o in fg:
        by_kind.setdefault(o["kind"], []).append((o["t1"] - o["t0"]) / 1e9)
    by_kind_latency = {k: {"n": len(v), "p50_s": statistics.median(v),
                   "tail": stats.tail(v)} for k, v in sorted(by_kind.items())}
    if trace:
        traced_ids = {o["id"] for o in fg if o["traced"]}
        m = {name: 0.0 for name, *_ in metrics.PER_LAYER}
        unknown = set(raw["layers"]) - set(m)
        if unknown:
            raise RuntimeError(f"layer metrics missing from the catalogue: {sorted(unknown)}")
        m.update(raw["layers"])
        m.update(op_metrics(fg))
        # The traced run's own end-to-end figures: set beside the untraced
        # run's work_per_s and op_p50_ms they give the tracing overhead.
        m["trace.work_per_s"] = work_per_s(fg)
        m["trace.op_p50_ms"] = statistics.median(o["t1"] - o["t0"] for o in fg) / 1e6 if fg else 0.0
        m["trace.coverage"] = stats.coverage(raw["spans"], traced_ids)
        extra = {"self_time": stats.self_time_by_name(raw["spans"])}
    else:
        m = {
            "setup_s": statistics.median(raw["setup_s"]),
            "work_per_s": work_per_s(fg),
            "op_p50_ms": statistics.median(secs) * 1e3 if secs else 0.0,
            "heap_peak_mb": raw["heap_peak_mb"],
            **raw["values"],
        }
        extra = {}
    names = [n for n, *_ in (metrics.PER_LAYER if trace else metrics.END_TO_END)]
    missing = set(names) - set(m)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    return {n: {"value": float(m[n]), "unit": metrics.UNITS[n]} for n in names}, by_kind_latency, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true", help="small inputs, for smoke tests")
    args = ap.parse_args()

    t0 = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    try:
        run_jvm(classes, args, work, out)
        with open(out) as fh:
            raw = json.load(fh)
        result_metrics, latency, extra = summarize(raw, args.trace == 1)
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    record = dict(raw["record"])
    record.update({
        "git_commit": git_commit(), "source_hash": build.source_hash(),
        "nproc_python": cores(), "wall_s": round(time.time() - t0, 3),
        "error_rate": failed / attempted if attempted else 1.0,
        "setup_runs_s": raw["setup_s"], "latency": latency,
        "failures": raw["failures"], **extra})
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": result_metrics}))


if __name__ == "__main__":
    main()
