"""Tests for the benchmark's own logic: the tail rule, job-to-op
attribution and span self-time, on synthetic listener traces.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


def op(i, start, end, read_start=None, construct_end=None, **kw):
    rs = start if read_start is None else read_start
    return dict(id=i, kind="k", start_ms=start, end_ms=end, read_start_ms=rs,
                construct_end_ms=rs if construct_end is None else construct_end,
                construct_s=0.0, latency_s=(end - rs) / 1e3, **kw)


def job(i, start, end, stages=()):
    return {"id": i, "start": start, "end": end, "stages": list(stages)}


class TailRule(unittest.TestCase):
    def test_median_below_twenty_samples(self):
        xs = list(range(1, 20))
        self.assertEqual(stats.tail(xs), (50, stats.median(xs)))

    def test_twenty_samples_is_p50(self):
        xs = list(range(1, 21))
        # p50 is rank 10, leaving exactly 10 beyond it
        self.assertEqual(stats.tail(xs), (50, 10.5))

    def test_hundred_samples_is_p90(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90))

    def test_leaves_at_least_ten_beyond(self):
        for n in range(20, 400, 7):
            xs = list(range(n))
            p, v = stats.tail(xs)
            beyond = sum(1 for x in xs if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:  # the next percentile would leave fewer than 10
                nxt = stats.percentile(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 100), 5)


class Attribution(unittest.TestCase):
    def setUp(self):
        self.ops = [op(0, 1000, 2000), op(1, 2500, 4000)]
        self.events = {
            "jobs": [job(1, 900, 1100, [10]),     # setup: before any op
                     job(2, 1000, 1500, [11]),    # op 0, starts on its edge
                     job(3, 1900, 2600, [12]),    # op 0, ends inside op 1
                     job(4, 2200, 2300, [13]),    # between ops (a check)
                     job(5, 3000, 3100, [14, 15])],
            "stages": [{"id": s} for s in (10, 11, 12, 13, 14, 15)],
            "qes": [{"id": 7, "phase_start": 2600, "phase_end": 2700, "t": 4100},
                    {"id": 8, "phase_start": 0, "phase_end": 0, "t": 1200},
                    # analysed inside op 0, planned by the check after it
                    {"id": 9, "phase_start": 1500, "phase_end": 2100, "t": 2150}],
            "triggers": [{"start": 2700, "durations": {}}],
        }

    def test_jobs_go_to_the_op_holding_their_start(self):
        by = stats.attribute(self.ops, self.events)
        self.assertEqual([j["id"] for j in by[0]["jobs"]], [2, 3])
        self.assertEqual([j["id"] for j in by[1]["jobs"]], [5])

    def test_stages_follow_their_job(self):
        by = stats.attribute(self.ops, self.events)
        self.assertEqual([s["id"] for s in by[0]["stages"]], [11, 12])
        self.assertEqual([s["id"] for s in by[1]["stages"]], [14, 15])

    def test_queries_by_last_phase_else_callback_time(self):
        by = stats.attribute(self.ops, self.events)
        self.assertEqual([q["id"] for q in by[1]["qes"]], [7])
        self.assertEqual([q["id"] for q in by[0]["qes"]], [8])

    def test_triggers_by_start(self):
        by = stats.attribute(self.ops, self.events)
        self.assertEqual(len(by[1]["triggers"]), 1)
        self.assertEqual(by[0]["triggers"], [])


class SelfTime(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(stats.union_ms([(0, 10), (5, 20)], lo=8, hi=15), 7)

    def test_priority_and_default(self):
        parts = stats.self_time((0, 100), [("jobs", 10, 30), ("catalyst", 20, 50),
                                           ("construct", 0, 40)], default="driver")
        self.assertEqual(parts, {"construct": 10, "jobs": 20, "catalyst": 20, "driver": 50})
        self.assertEqual(sum(parts.values()), 100)

    def test_driver_gap_and_layers_of_one_op(self):
        o = op(0, 0, 1000, read_start=0, construct_end=200)
        ev = {"jobs": [job(1, 100, 150, [1]), job(2, 300, 700, [2]), job(3, 600, 800, [3])],
              "stages": [dict(id=s, tasks=2, run_ms=100, cpu_ns=5e7, gc_ms=1, shuffle_read=0,
                              shuffle_write=0, spill=0, input_bytes=0, input_rows=0)
                         for s in (1, 2, 3)],
              "qes": [dict(id=1, phase_start=200, phase_end=300, analysis_ms=1,
                           optimization_ms=60, planning_ms=40, exchanges=1, broadcasts=0,
                           single_partition=0)],
              "triggers": []}
        m = stats.op_layers(o, ev, cpus=4, clk_tck=100)
        self.assertAlmostEqual(m["driver_gap_s"], 1.0 - 0.55)
        self.assertEqual(m["sched.jobs"], 3)
        self.assertEqual(m["sched.short_jobs"], 1)
        self.assertAlmostEqual(m["exec.run_s"], 0.3)
        self.assertAlmostEqual(m["exec.busy_frac"], 0.3 / 4)
        self.assertAlmostEqual(m["self.read.jobs_s"], 0.55)
        self.assertAlmostEqual(m["self.read.catalyst_s"], 0.1)
        self.assertAlmostEqual(m["self.read.construct_s"], 0.15)
        self.assertAlmostEqual(m["self.read.driver_s"], 0.2)

    def test_spans_share_the_op_id_and_nest(self):
        o = op(3, 0, 1000, read_start=0, construct_end=200, check_end_ms=1200)
        ev = {"jobs": [job(1, 300, 700)], "stages": [], "triggers": [],
              "qes": [{"id": 9, "phase_start": 250, "phase_end": 260, "t": 800}]}
        rows = stats.spans(o, ev)
        self.assertTrue(all(r["op"] == 3 for r in rows))
        by = {(r["span"], r["parent"]): r for r in rows}
        self.assertEqual(by[("execute", "op")]["self_ms"], 800 - 400 - 10)
        self.assertIn(("job", "execute"), by)
        self.assertIn(("query", "execute"), by)
        self.assertEqual(by[("check", "op")]["end_ms"], 1200)


if __name__ == "__main__":
    unittest.main()
