"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import numpy as np

import checks
import compare
import gen
import stats


class PercentileRule(unittest.TestCase):
    def beyond(self, values, p):
        cut = stats.percentile(values, p)
        return sum(1 for v in values if v > cut)

    def test_highest_percentile_with_ten_beyond(self):
        for n in (20, 21, 33, 100, 137, 1000, 4321):
            values = list(range(n))
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(self.beyond(values, p), 10, n)
            # any higher percentile leaves fewer than ten beyond it
            self.assertLess(self.beyond(values, p + 100.0 / n), 10, n)

    def test_known_values(self):
        self.assertAlmostEqual(stats.tail_percentile(100), 90.0)
        self.assertAlmostEqual(stats.tail_percentile(1000), 99.0)
        self.assertAlmostEqual(stats.tail_percentile(20), 50.0)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail_percentile(19), 100.0)
        self.assertEqual(stats.tail([3.0, 9.0, 1.0]), (100.0, 9.0))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)

    def test_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        self.assertEqual(stats.quartiles(xs), tuple(__import__("statistics").quantiles(xs, n=4)))
        self.assertAlmostEqual(stats.spread([10.0, 10.0, 10.0]), 0.0)


class GeneratorSchedule(unittest.TestCase):
    def test_poisson_schedule(self):
        t = gen.schedule(np.random.default_rng(7), 1000, 20)
        self.assertTrue(np.all(np.diff(t) > 0), "send times strictly increase")
        self.assertTrue(t[0] >= 0 and t[-1] < 20e6)
        self.assertAlmostEqual(len(t) / 20, 1000, delta=50)
        again = gen.schedule(np.random.default_rng(7), 1000, 20)
        self.assertTrue(np.array_equal(t, again), "same seed, same schedule")

    def test_payments_segments_and_lateness(self):
        m = gen.payments(np.random.default_rng(3), windows=2, rate=500, seconds=4,
                         warm_s=2, late_share=0.05, backlog=100, drains=2)
        seg, late, ev = m["segment"], m["late"], m["event_us"]
        self.assertEqual(list(seg[:50]), ["setup"] * 50)
        self.assertTrue(late.any())
        self.assertFalse(late[seg != "open"].any(), "late messages only in open segments")
        on_time = ev[~late]
        self.assertTrue(np.all(np.diff(on_time) > 0), "on-time event times increase")
        newest = np.maximum.accumulate(np.where(late, np.iinfo(np.int64).min, ev))
        gap = (newest - ev)[late]
        self.assertTrue(np.all(gap > gen.ALLOWED_DELAY_S * 1e6 + 5e6),
                        "late messages are beyond the allowed delay, with margin")
        for w in (0, 1):
            drained = (m["window"] == w) & (seg == "drain")
            self.assertEqual(int(drained.sum()), 200)
        self.assertEqual(int((seg == "warmdrain").sum()), 100)
        self.assertFalse(((m["window"] == 1) & np.isin(seg, ["warm", "warmdrain"])).any())

    def test_wire_format(self):
        m = gen.payments(np.random.default_rng(1), 1, 100, 1, 1, 0.0, 1, 1)
        import json
        import os
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            gen.write_payments(os.path.join(d, "p.tsv"), m)
            with open(os.path.join(d, "p.tsv")) as f:
                first = f.readline().rstrip("\n").split("\t")
        msg = json.loads(first[4])
        self.assertEqual(sorted(msg), ["createTime", "orderId", "payAmount",
                                       "payPlatform", "provinceId"])
        self.assertEqual(round(msg["payAmount"] * 100), m["cents"][0])


class LatenessAccounting(unittest.TestCase):
    def test_generator_lateness(self):
        start = 1_000_000_000
        late = stats.generator_lateness_ms(start, [0, 1000, 2000],
                                           [start, start + 3_000_000, start + 1_000_000])
        self.assertEqual(late, [0.0, 2.0, 0.0])

    def test_latency_counts_from_the_due_time(self):
        start = 0
        # due at 1 ms, pushed late at 5 ms, emitted at 7 ms: 6 ms, not 2 ms
        self.assertEqual(stats.open_loop_latency_ms(start, [1000], [7_000_000]), [6.0])


class TraceSelfTime(unittest.TestCase):
    def span(self, name, parent, s, e, op="q"):
        return {"op": op, "name": name, "parent": parent, "start_ms": s, "end_ms": e}

    def test_nested(self):
        spans = [self.span("op", "", 0, 100), self.span("build", "op", 0, 30),
                 self.span("action", "op", 30, 100), self.span("job", "action", 40, 80),
                 self.span("stage", "job", 45, 75)]
        self.assertEqual(stats.self_times(spans), [0, 30, 30, 10, 30])

    def test_overlapping_children_count_once(self):
        spans = [self.span("action", "op", 0, 100), self.span("job", "action", 10, 50),
                 self.span("job", "action", 30, 70), self.span("job", "action", 90, 120)]
        self.assertEqual(stats.self_times(spans)[0], 100 - 60 - 10)

    def test_children_outside_the_parent_do_not_count(self):
        spans = [self.span("action", "op", 10, 50), self.span("job", "action", 0, 5),
                 self.span("job", "action", 60, 90), self.span("job", "action", 40, 70)]
        self.assertEqual(stats.self_times(spans)[0], 40 - 10)

    def test_other_operations_are_not_children(self):
        spans = [self.span("action", "op", 0, 10, op="a"),
                 self.span("job", "action", 0, 10, op="b")]
        self.assertEqual(stats.self_times(spans)[0], 10)


class Helpers(unittest.TestCase):
    def test_watermark(self):
        self.assertEqual(checks._watermark_us("2023-09-20T10:00:01.500Z"), 1_500_000)

    def test_plan_coverage(self):
        res = {"windows": [{"ops": [{"id": "w0.p0.minhash"}]},
                           {"ops": [{"id": "w1.p0.minhash"}, {"id": "w1.p0.simhash"}]}],
               "spans": [{"op": "w1.p0.minhash", "name": "plan.analysis"},
                         {"op": "w1.p0.simhash", "name": "job"}]}
        self.assertEqual(checks.plan_coverage(res), ["w1.p0.simhash"])
        self.assertEqual(checks.plan_coverage({"windows": res["windows"][:1],
                                               "spans": []}), [])

    def test_compare_verdicts(self):
        base = [(s, 100.0 + s % 3) for s in range(10)]
        faster = [(s, 80.0 + s % 3) for s in range(10)]
        self.assertEqual(compare.verdict(base, faster, "lower", 0.1)[0], "better")
        self.assertEqual(compare.verdict(base, base, "lower", 0.1)[0], "same")
        self.assertEqual(compare.verdict(faster, base, "lower", 0.1)[0], "worse")
        noisy = [(s, 50.0 + 100 * (s % 2)) for s in range(10)]
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
