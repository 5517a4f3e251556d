"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(id, parent, t0, t1, name="x", op=None):
    return {"id": id, "name": name, "parent": parent, "op": op or (parent or id),
            "t0": t0, "t1": t1}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_unsorted_input_and_odd_count(self):
        samples = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12, 0, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22]
        value, pct, n = metrics.tail(samples)
        self.assertEqual(value, 12)  # 13..22 lie beyond it
        self.assertAlmostEqual(pct, 100.0 * 13 / 23)
        self.assertEqual(n, 23)

    def test_too_few_samples_for_a_tail_above_the_median(self):
        self.assertEqual(metrics.tail([3, 9, 1]), (9, 100.0, 3))
        self.assertEqual(metrics.tail(list(range(20)))[0], 19)
        self.assertEqual(metrics.tail(list(range(21)))[0], 10)
        self.assertIsNone(metrics.tail([]))


class UnionTest(unittest.TestCase):
    def test_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_clipped(self):
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20)]), 100)
        self.assertEqual(metrics.union_ms([(0, 100), (150, 200)], lo=50, hi=160), 60)
        self.assertEqual(metrics.union_ms([(0, 10)], lo=20, hi=30), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50),
                 span(4, 2, 15, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 60)  # children cover 10..50
        self.assertEqual(st[2], 25)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 5)

    def test_leaf_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, 3, 7.5)]), {1: 4.5})


class AttributionTest(unittest.TestCase):
    def setUp(self):
        self.a = metrics.Attribution([span(1, 0, 0.0, 100.4), span(2, 1, 10.6, 40.2),
                                      span(3, 1, 50.0, 60.0)])

    def test_group_wins_over_time(self):
        self.assertEqual(self.a.span_of("pb-3", 20), 3)

    def test_innermost_open_span_by_time(self):
        self.assertEqual(self.a.span_of(None, 20), 2)
        self.assertEqual(self.a.span_of("other-group", 45), 1)
        self.assertEqual(self.a.span_of(None, 10), 2)  # whole-ms event stamp
        self.assertIsNone(self.a.span_of(None, 200))


class RatioTest(unittest.TestCase):
    def raw(self, ops, counters=(), stages=(), jobs=(), spans=None):
        spans = spans or [span(o["span"], 0, o["t0"], o["t0"] + o["ms"], o["kind"])
                          for o in ops]
        return {"workload": "commit_sync", "cores": 4, "heap_peak_mb": 1.0, "ops": ops,
                "spans": spans,
                "counters": list(counters), "stages": list(stages), "jobs": list(jobs),
                "phases": [], "scans": [], "triggers": []}

    def tick(self, sid, t0, ms, rows, traced=True):
        return {"kind": "tick", "key": "tick", "cycle": sid, "t0": t0, "ms": ms,
                "ok": True, "rows": rows, "traced": traced, "span": sid if traced else 0}

    def test_write_amp_and_bytes_per_row(self):
        ops = [self.tick(1, 0, 100, 1000)]
        c = {"sinks.bytes_written": 50000, "sinks.store_bytes_before": 100000,
             "sinks.store_rows_before": 10000, "sinks.store_bytes": 120000,
             "sinks.store_rows": 11000}
        m = metrics.per_layer(self.raw(ops, [{"span": 1, "name": k, "value": v}
                                             for k, v in c.items()]))
        # 50 kB written for 1000 rows stored at 10 B a row
        self.assertAlmostEqual(m["sinks.write_amp"][0], 5.0)
        self.assertAlmostEqual(m["store_bytes_per_row"][0], 120000 / 11000)

    def test_core_util_and_driver_remainder(self):
        ops = [self.tick(1, 0, 1000, 10), self.tick(2, 2000, 1000, 10)]
        stages = [{"group": "pb-1", "t0": 10, "task_ms": 2000, "shuffle_write_bytes": 0,
                   "spill_bytes": 0, "records_read": 5},
                  {"group": "pb-2", "t0": 2010, "task_ms": 2000, "shuffle_write_bytes": 0,
                   "spill_bytes": 0, "records_read": 5}]
        jobs = [{"group": "pb-1", "t0": 100, "t1": 400}, {"group": "pb-1", "t0": 300, "t1": 700},
                {"group": "pb-2", "t0": 2100, "t1": 2700}]
        m = metrics.per_layer(self.raw(ops, stages=stages, jobs=jobs))
        # 2 s of task time in 1 s of wall on 4 cores
        self.assertAlmostEqual(m["spark.core_util"][0], 0.5)
        self.assertAlmostEqual(m["spark.task_s"][0], 2.0)
        # jobs cover 600 ms of each 1000 ms tick
        self.assertAlmostEqual(m["driver_ms"][0], 400.0)
        self.assertEqual(m["spark.jobs"][0], 1.5)

    def test_overhead_compares_traced_with_untraced(self):
        ops = [self.tick(1, 0, 110, 1), self.tick(2, 200, 100, 1, traced=False),
               self.tick(3, 400, 110, 1), self.tick(4, 600, 100, 1, traced=False)]
        self.assertAlmostEqual(metrics.overhead_pct(self.raw(ops)), 10.0)

    def test_ratio_without_base_is_zero(self):
        self.assertEqual(metrics.ratio(5, 0), 0.0)
        self.assertEqual(metrics.ratio(6, 3), 2.0)


class EndToEndTest(unittest.TestCase):
    def test_cycles_reads_and_setup(self):
        ops = []
        for c in range(1, 4):
            ops.append({"kind": "tick", "key": "tick", "cycle": c, "ms": 1000.0 * c,
                        "ok": True, "rows": 100 * c * c})
            ops += [{"kind": "lookup", "key": "lookup", "cycle": c, "ms": float(10 * c + i),
                     "ok": True, "rows": 0} for i in range(8)]
        ops.append({"kind": "tick", "key": "tick", "cycle": 0, "ms": 9e9, "ok": True,
                    "rows": 1})  # warm-up
        raw = {"workload": "commit_sync", "ops": ops, "setup_reps_s": [9.0, 2.0, 3.0],
               "launch_ms": 1000.0, "session_ready_ms": 5000.0}
        m, info = metrics.end_to_end(raw)
        self.assertEqual(m["setup_s"][0], 4.0 + 3.0)
        self.assertEqual(m["cycle_p50_s"][0], 2.0)
        # all rows over all cycle time, not the median cycle's 400 / 2
        self.assertAlmostEqual(m["rows_per_s"][0], 1400 / 6.0)
        self.assertEqual(m["read_p50_ms"][0], 23.5)
        self.assertEqual(m["read_tail_ms"][0], 25.0)  # 24 reads, 10 beyond it
        self.assertEqual(info["reads"], 24)

    def test_read_median_is_taken_per_entry(self):
        ops = [{"kind": "query", "key": k, "cycle": c, "ms": ms, "ok": True, "rows": 1}
               for c in (1, 2, 3)
               for k, ms in (("a", 100.0 * c), ("b", 1000.0 + c), ("c", 5000.0 + c))]
        raw = {"workload": "query_suite", "ops": ops, "setup_reps_s": [1.0],
               "launch_ms": 0.0, "session_ready_ms": 0.0}
        m, _ = metrics.end_to_end(raw)
        # the middle entry's median, not the median of nine mixed runs
        self.assertEqual(m["read_p50_ms"][0], 1002.0)
        # nine reads leave no tail above the median: the slowest entry's median
        self.assertEqual(m["read_tail_ms"][0], 5002.0)
        self.assertEqual(m["cycle_p50_s"][0], (200.0 + 1002 + 5002) / 1000)


if __name__ == "__main__":
    unittest.main()
