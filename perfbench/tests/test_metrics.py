"""Self-tests of the benchmark's statistics and span accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(sid, parent, start, end, module="bench", phase="op", pass_=1, counters=None):
    return {"id": sid, "parent": parent, "pass": pass_, "op": "x", "module": module,
            "phase": phase, "start_ns": start, "end_ns": end, "counters": counters}


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertEqual(metrics.tail([1.0] * 10), (0.0, 0.0, 10))

    def test_leaves_exactly_ten_beyond(self):
        xs = list(range(1, 21))             # 20 samples
        value, pct, n = metrics.tail(list(reversed(xs)))
        self.assertEqual((value, pct, n), (10, 50.0, 20))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_hundred_samples_is_p90(self):
        value, pct, n = metrics.tail([float(i) for i in range(100)])
        self.assertEqual((value, pct, n), (89.0, 90.0, 100))


class QuartileTest(unittest.TestCase):
    def test_iqr_share_matches_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 9.0, 30.0, 10.5, 11.5, 10.2, 9.8, 10.1]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.iqr_share(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(metrics.iqr_share([2.0] * 10), 0.0)

    def test_median_of_nothing_is_zero(self):
        self.assertEqual(metrics.median([]), 0.0)
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30, "query", "call"),
                 span(3, 1, 40, 90, "query", "exec"), span(4, 3, 50, 60, "index", "exec")]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1] * 1e9, 30)
        self.assertAlmostEqual(st[2] * 1e9, 20)
        self.assertAlmostEqual(st[3] * 1e9, 40)
        self.assertAlmostEqual(st[4] * 1e9, 10)
        # self times partition the root's wall
        self.assertAlmostEqual(sum(st.values()) * 1e9, 100)

    def test_overlapping_and_overhanging_children_are_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 20, 60, "query"), span(3, 1, 50, 130, "olap")]
        self.assertAlmostEqual(metrics.self_times(spans)[1] * 1e9, 20)

    def test_coverage_is_share_of_op_wall(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50, "query", "call"),
                 span(3, 1, 55, 100, "query", "exec"), span(4, 3, 60, 70, "index", "exec")]
        [(root, share)] = metrics.coverage(spans, metrics.self_times(spans))
        self.assertEqual(root["id"], 1)
        self.assertAlmostEqual(share, 0.95)


def raw_run(trace):
    ops = [{"name": "q", "module": "query", "read": True, "wall_s": 1.0, "rows": 4, "error": None},
           {"name": "commit", "module": "data", "read": False, "wall_s": 2.0, "rows": 0, "error": None}]
    passes = [{"index": i, "traced": trace and i == 1, "wall_s": w, "plancache_entries": 3,
               "storage_bytes": 1 << 20, "steal_share": 0.0, "ops": ops}
              for i, w in ((0, 9.0), (1, 4.0), (2, 2.0))]
    counters = {"jobs": 3, "busy_ms": 2000, "wait_ms": 500, "shuffle_write_bytes": 1 << 20,
                "shuffle_read_bytes": 1 << 20, "spill_bytes": 0, "input_bytes": 2 << 20,
                "input_records": 40, "broadcast_builds": 1, "broadcast_bytes": 1 << 19,
                "failed_tasks": 0, "tasks": 8}
    s = 1_000_000_000
    spans = [span(1, 0, 0, s, pass_=1), span(2, 1, 0, s // 2, "query", "call", 1),
             span(3, 1, s // 2, s, "query", "exec", 1, counters)]
    return {"trace": trace, "setups": [{"setup_s": x, "load_s": x / 2} for x in (9.0, 3.0, 4.0)],
            "layout_bytes": 3 << 20, "passes": passes, "storage_bytes": 0,
            "heap_live_bytes": 100 << 20, "spans": spans if trace else [],
            "phases_s": {"setups": 16.0, "model": 0.5, "passes": 15.0}}


class SummaryTest(unittest.TestCase):
    spec = {"end_to_end": [{"name": n, "unit": "s"} for n in
                           ("setup_s", "first_pass_s", "pass_s", "op_p50_s", "heap_live_mb")],
            "per_layer": [{"name": n, "unit": "x"} for n in
                          ("query.call_s", "query.exec_s", "query.jobs", "query.core_util",
                           "query.broadcast_mb", "olap.jobs", "data.rows_examined_per_row",
                           "data.commit_s", "data.load_s", "op.q.wall_s", "op.pagerank.wall_s",
                           "trace.overhead_ratio", "trace.coverage_min")]}

    def test_end_to_end_uses_medians_of_warm_passes(self):
        result, _ = metrics.summarize(raw_run(False), self.spec)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(m["setup_s"], 4.0)
        self.assertEqual(m["first_pass_s"], 9.0)
        self.assertEqual(m["pass_s"], 3.0)
        self.assertEqual(m["op_p50_s"], 1.0)
        self.assertEqual(m["heap_live_mb"], 100.0)
        self.assertEqual((result["correct"], result["attempted"], result["failed"]), (True, 6, 0))

    def test_failed_op_makes_run_incorrect(self):
        raw = raw_run(False)
        raw["passes"][2]["ops"] = [dict(raw["passes"][2]["ops"][0], error="fingerprint 1:2")]
        result, report = metrics.summarize(raw, self.spec)
        self.assertEqual((result["correct"], result["failed"]), (False, 1))
        self.assertIn("FAILED q: fingerprint 1:2", report)

    def test_layers_come_from_traced_passes(self):
        result, _ = metrics.summarize(raw_run(True), self.spec)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertAlmostEqual(m["query.call_s"], 0.5)
        self.assertAlmostEqual(m["query.exec_s"], 0.5)
        self.assertEqual(m["query.jobs"], 3)
        self.assertAlmostEqual(m["query.core_util"], 2.0 / (1.0 * metrics.CORES))
        self.assertAlmostEqual(m["query.broadcast_mb"], 0.5)
        self.assertEqual(m["olap.jobs"], 0)
        self.assertAlmostEqual(m["data.rows_examined_per_row"], 40 / 4)
        self.assertEqual(m["data.commit_s"], 2.0)
        self.assertEqual(m["data.load_s"], 2.0)
        self.assertEqual(m["op.q.wall_s"], 1.0)
        self.assertEqual(m["op.pagerank.wall_s"], 0.0)   # not run in this workload
        self.assertAlmostEqual(m["trace.overhead_ratio"], 4.0 / 2.0)
        self.assertAlmostEqual(m["trace.coverage_min"], 1.0)


if __name__ == "__main__":
    unittest.main()
