"""JVM-free tests of perf_ab.py's arithmetic on canned perfbench result lines.

    python3 -m unittest scripts/test_perf_ab.py
"""
import contextlib
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_ab  # noqa: E402

SPEC = [("op_p50_ms", "lower", 0.25), ("work_per_s", "higher", 0.25),
        ("recall", "higher", 0.1)]


def line(p50, work, recall=1.0, failed=0, attempted=40):
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {
        "op_p50_ms": {"value": p50, "unit": "ms"},
        "work_per_s": {"value": work, "unit": "1/s"},
        "recall": {"value": recall, "unit": "ratio"}}})


def runs(lines):
    return [perf_ab.parse_result('{"run_record": {}}\n' + ln)["metrics"] for ln in lines]


def row(rows, name):
    return next(r for r in rows if r["metric"] == name)


class PerfAbTest(unittest.TestCase):

    def test_parse_takes_the_result_and_the_record_failures(self):
        res = perf_ab.parse_result('{"run_record": {"failures": ["get#7 wrong: value"]}}\n'
                                   + line(250.0, 2.0, failed=1))
        self.assertEqual(res["failed"], 1)
        self.assertEqual(res["attempted"], 40)
        self.assertFalse(res["correct"])
        self.assertEqual(res["metrics"]["op_p50_ms"], 250.0)
        self.assertEqual(res["failures"], ["get#7 wrong: value"])

    def test_order_flips_every_pair(self):
        self.assertEqual([perf_ab.order(i)[0] for i in range(4)],
                         ["base", "change", "base", "change"])

    def test_resolved_gain_needs_nine_of_ten_wins_and_gap_beyond_spread(self):
        base = runs([line(p, 2.0) for p in (250, 240, 260, 255, 245, 250, 248, 252, 251, 249)])
        change = runs([line(p, 2.5) for p in (190, 185, 195, 200, 188, 192, 187, 191, 260, 189)])
        r = row(perf_ab.compare(SPEC, base, change), "op_p50_ms")
        self.assertEqual(r["wins"], 9)
        self.assertEqual(r["pairs"], 10)
        q1, med, q3 = r["base"]
        self.assertEqual(med, 250.0)
        self.assertAlmostEqual(r["base_spread"], q3 - q1)
        self.assertTrue(r["gap_beyond_spread"])
        self.assertTrue(r["resolved_gain"])
        self.assertTrue(r["within_bound"])
        self.assertLess(r["worse_share"], 0)

    def test_eight_wins_do_not_resolve(self):
        base = runs([line(250, 2.0)] * 10)
        change = runs([line(p, 2.0) for p in [190] * 8 + [300, 300]])
        r = row(perf_ab.compare(SPEC, base, change), "op_p50_ms")
        self.assertEqual(r["wins"], 8)
        self.assertFalse(r["resolved_gain"])

    def test_gap_inside_spread_does_not_resolve(self):
        base = runs([line(p, 2.0) for p in (200, 300, 200, 300, 200, 300, 200, 300, 250, 250)])
        change = runs([line(p - 10, 2.0) for p in (200, 300, 200, 300, 200, 300, 200, 300, 250, 250)])
        r = row(perf_ab.compare(SPEC, base, change), "op_p50_ms")
        self.assertEqual(r["wins"], 10)
        self.assertFalse(r["gap_beyond_spread"])
        self.assertFalse(r["resolved_gain"])

    def test_bound_uses_the_metric_direction(self):
        base = runs([line(100, 100.0, 1.0)] * 4)
        # work_per_s (higher is better) falls 30 %: outside its 0.25 bound;
        # op_p50_ms (lower is better) rises 20 %: inside it.
        change = runs([line(120, 70.0, 0.95)] * 4)
        rows = perf_ab.compare(SPEC, base, change)
        self.assertAlmostEqual(row(rows, "work_per_s")["worse_share"], 0.30)
        self.assertFalse(row(rows, "work_per_s")["within_bound"])
        self.assertAlmostEqual(row(rows, "op_p50_ms")["worse_share"], 0.20)
        self.assertTrue(row(rows, "op_p50_ms")["within_bound"])
        self.assertAlmostEqual(row(rows, "recall")["worse_share"], 0.05)
        self.assertTrue(row(rows, "recall")["within_bound"])
        self.assertEqual(row(rows, "recall")["wins"], 0)

    def test_ties_are_not_wins_and_a_zero_base_is_level(self):
        base = runs([line(100, 0.0)] * 3)
        change = runs([line(100, 0.0)] * 3)
        rows = perf_ab.compare(SPEC, base, change)
        self.assertEqual(row(rows, "op_p50_ms")["wins"], 0)
        self.assertEqual(row(rows, "work_per_s")["worse_share"], 0.0)
        self.assertTrue(row(rows, "work_per_s")["within_bound"])

    def test_op_tally_sums_a_side_and_reports_the_failed_share(self):
        side = [perf_ab.parse_result('{"run_record": {}}\n' + line(250, 2.0, failed=f, attempted=a))
                for f, a in ((0, 30), (1, 29), (2, 41))]
        attempted, failed, share = perf_ab.op_tally(side)
        self.assertEqual((attempted, failed), (100, 3))
        self.assertAlmostEqual(share, 0.03)
        self.assertEqual(perf_ab.op_tally([]), (0, 0, 1.0))

    def test_report_ops_flags_a_larger_failed_share(self):
        def side(*fa):
            return [perf_ab.parse_result('{"run_record": {}}\n' + line(250, 2.0, failed=f, attempted=a))
                    for f, a in fa]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            self.assertTrue(perf_ab.report_ops(side((1, 40), (0, 40)), side((0, 40), (0, 41))))
        text = out.getvalue()
        self.assertIn("ops base   attempted=80 failed=1 failed_share=1.25%", text)
        self.assertIn("ops change attempted=81 failed=0 failed_share=0.00%", text)
        self.assertIn("failed share no larger than base: yes", text)
        with contextlib.redirect_stdout(io.StringIO()):
            # equal counts, fewer attempts: a larger share
            self.assertFalse(perf_ab.report_ops(side((1, 40)), side((1, 20))))

    def test_spec_comes_from_benchmark_json(self):
        seconds, spec = perf_ab.load_spec(os.path.join(perf_ab.ROOT, "BENCHMARK.json"))
        self.assertEqual(seconds, 8)
        self.assertIn(("op_p50_ms", "lower", 0.25), spec)


if __name__ == "__main__":
    unittest.main()
