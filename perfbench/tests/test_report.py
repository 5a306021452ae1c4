"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests

The Scala-side tests (input generation, brute force, recall) compile and
run as one case here.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import report  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = report.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_small_sample(self):
        # twelve samples support only the 2nd smallest (p16.7)
        value, pct, n = report.tail([float(x) for x in range(12, 0, -1)])
        self.assertEqual((value, n), (2.0, 12))
        self.assertAlmostEqual(pct, 100 * 2 / 12)

    def test_at_least_ten_beyond_for_any_size(self):
        for n in range(11, 300, 7):
            xs = [float(i) for i in range(n)]
            value, _, _ = report.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(report.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested(self):
        self.assertEqual(report.union_ms([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_clipped_to_parent(self):
        self.assertEqual(report.union_ms([(-5, 3), (8, 30)], 0, 10), 5)

    def test_self_time(self):
        # an op of 100 ms whose jobs cover 10..40 and 30..60 spends 50 ms
        # with no job running
        self.assertEqual(report.self_ms(0, 100, [(10, 40), (30, 60)]), 50)
        self.assertEqual(report.self_ms(0, 100, []), 100)
        self.assertEqual(report.self_ms(0, 100, [(-10, 200)]), 0)


def op(i, kind, cycle, start, end, phase="measure"):
    return {"id": i, "phase": phase, "kind": kind, "cycle": cycle,
            "start_ms": start, "end_ms": end, "ok": True}


class AttributionTest(unittest.TestCase):
    def test_group_then_time(self):
        raw = {"ops": [op(0, "a", 1, 0, 100), op(1, "b", 1, 100, 200)],
               "jobs": [{"id": 1, "group": "perfbench:1:b", "start_ms": 10, "end_ms": 20},
                        {"id": 2, "group": "stream-run", "start_ms": 50, "end_ms": 60},
                        {"id": 3, "group": "stream-run", "start_ms": 150, "end_ms": 160}],
               "stages": []}
        jobs_of, _ = report.attribute(raw)
        self.assertEqual([j["id"] for j in jobs_of[0]], [2])
        self.assertEqual([j["id"] for j in jobs_of[1]], [1, 3])


def cycles_raw():
    """Set-up, warm-up and three measured cycles of kinds x (10 ms) and y
    (40 ms), with a 1 s compaction in the last cycle."""
    ops = [op(0, "VectorStore.build_ivf", 0, 0, 50, phase="setup"),
           op(1, "y", 0, 50, 550, phase="setup"),
           op(2, "x", 0, 550, 1550, phase="warmup")]
    t, i = 2000.0, 3
    for c in range(1, 4):
        for kind, ms in (("x", 10.0), ("y", 40.0)):
            ops.append(op(i, kind, c, t, t + ms)); t += ms; i += 1
    ops.append(op(i, "VectorStore.compact", 3, t, t + 1000.0))
    return {"ops": ops, "samples": {"setup_s": [3.0, 1.0, 2.0], "recall": [1.0, 0.5],
                                    "space_amp": [2.0], "calib_ms": [1.0]},
            "extra": {"routes": [["x"], ["y", "VectorStore.compact"]],
                      "run_ms": [0.0, t + 2000], "workload_ms": [0.0, t + 1000]},
            "workload": "w", "seed": 1, "probes": {}, "jobs": [], "stages": []}


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        m, detail = report.end_to_end(cycles_raw())
        self.assertEqual(m["setup_s"][0], 2.0)
        # each route is its kinds' medians, from measured ops only
        self.assertEqual(m["route1_ms"][0], 10.0)
        self.assertEqual(m["route2_ms"][0], 1040.0)
        self.assertEqual(m["ann_recall"][0], 0.75)
        # seven measured ops: too few for ten beyond, so the median
        self.assertIn("tail_ms 40.000 (p50.0 of 7 ops)", detail)
        self.assertIn("cycle_ms 50.000", detail)


class TracedRunTest(unittest.TestCase):
    def test_summary_takes_each_kind_from_one_phase(self):
        doc = report.trace(cycles_raw(), 40.0)
        lines = dict(l.split(" ", 1) for l in report.summary(doc))
        # y ran in set-up (500 ms) and measured cycles (40 ms): measured only
        self.assertEqual(float(lines["y.wall_ms"]), 40.0)
        # x's warm-up op (1 s) is left out
        self.assertEqual(float(lines["x.wall_ms"]), 10.0)
        # a kind only set-up runs comes from set-up
        self.assertEqual(float(lines["VectorStore.build_ivf.wall_ms"]), 50.0)

    def test_overhead_against_the_untraced_run(self):
        metrics = report.per_layer(report.trace(cycles_raw(), 40.0))
        self.assertEqual(metrics["cycle.wall_ms"][0], 50.0)
        self.assertAlmostEqual(metrics["trace.overhead_pct"][0], 25.0)
        self.assertEqual(metrics["setup.wall_ms"][0], 550.0)
        self.assertEqual(metrics["route2.wall_ms"][0], 1040.0)


class ScalaSideTest(unittest.TestCase):
    def test_scala_self_test(self):
        cp = build.build(tests=True)
        p = subprocess.run(["java", "-cp", os.pathsep.join(cp), "perfbench.SelfTest"],
                           capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)


if __name__ == "__main__":
    unittest.main()
