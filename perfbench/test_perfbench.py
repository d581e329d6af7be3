"""Tests of the benchmark itself: its arithmetic, its seeded generators, its
catalogue against BENCHMARK.json, and a tiny-size smoke run per workload.

    python3 -m unittest perfbench/test_perfbench.py          # everything
    PERFBENCH_FAST=1 python3 -m unittest perfbench/test_perfbench.py
                                        # skip the JVM-backed tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

SLOW = not os.environ.get("PERFBENCH_FAST")


def span(i, parent, t0, t1, op=1, name=None):
    return {"id": i, "parent": parent, "op": op, "name": name or f"s{i}", "t0": t0, "t1": t1}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: p90 = 90, 9 beyond
        self.assertEqual(stats.beyond(xs, 90), 9)
        self.assertFalse(stats.reportable(xs, 90))
        xs = list(range(1, 101))  # 100 samples: 10 beyond
        self.assertTrue(stats.reportable(xs, 90))

    def test_tail_picks_highest_reportable(self):
        self.assertIsNone(stats.tail(list(range(50))))
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(stats.tail(list(range(1, 10001)))[0], 99.9)

    def test_ties_do_not_count_as_beyond(self):
        xs = [1] * 95 + list(range(2, 7))
        self.assertEqual(stats.percentile(xs, 90), 1)
        self.assertEqual(stats.beyond(xs, 90), 5)


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_on_nested_spans(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 15, 20), span(5, 0, 200, 210)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)  # children cover [10, 60)
        self.assertEqual(st[2], 30 - 5)    # only its own child counts
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 10)

    def test_self_time_ignores_child_time_outside_parent(self):
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 25)])
        self.assertEqual(st[1], 5)

    def test_coverage_of_traced_ops(self):
        spans = [span(1, 0, 0, 100, op=7), span(2, 1, 0, 90, op=7),
                 span(3, 0, 0, 100, op=8)]
        self.assertAlmostEqual(stats.coverage(spans, {7}), 0.9)
        self.assertAlmostEqual(stats.coverage(spans, {7, 8}), 0.45)
        self.assertEqual(stats.coverage(spans, set()), 0.0)


class Catalogue(unittest.TestCase):
    def test_benchmark_json_matches_catalogue(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [m[:3] for m in metrics.PER_LAYER])


def jvm(workload, seed, *extra):
    classes = build.build()
    work = os.path.join(build.BUILD, "test-work")
    os.makedirs(work, exist_ok=True)
    cmd = build.java_command(classes, heap="1g") + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed), "--work", work,
        "--out", os.path.join(work, "raw.json"), "--tiny", *extra]
    return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=300, check=True).stdout.strip().splitlines()[-1]


@unittest.skipUnless(SLOW, "JVM-backed")
class Generators(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        for w in metrics.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (jvm(w, s, "--digest") for s in (11, 11, 12))
                self.assertEqual(len(a), 64)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


@unittest.skipUnless(SLOW, "JVM-backed")
class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny"],
            stdout=subprocess.PIPE, text=True, timeout=600, check=True)
        lines = out.stdout.strip().splitlines()
        return json.loads(lines[-2])["run_record"], json.loads(lines[-1])

    def test_each_workload_tiny_error_free(self):
        for w in metrics.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    record, res = self.run_bench(w, trace)
                    self.assertEqual(record["error_rate"], 0.0, record["failures"])
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    names = metrics.PER_LAYER if trace else metrics.END_TO_END
                    self.assertEqual(list(res["metrics"]), [m[0] for m in names])


if __name__ == "__main__":
    unittest.main()
