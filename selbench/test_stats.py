"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s selbench -p 'test_*.py'
"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n, beyond = stats.tail(xs)
        self.assertEqual((value, n, beyond), (30, 40, 10))
        self.assertEqual(pct, 75.0)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 11, 10, 12])[0], 2)

    def test_eleven_samples_is_the_minimum(self):
        value, pct, n, beyond = stats.tail(list(range(11)))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3, 0))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 10, 0))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(1, 3), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_of_touching_intervals(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)

    def test_self_time_subtracts_children_once(self):
        # children overlap each other and one sticks out of the span
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 5), (8, 12)]), 4)

    def test_self_time_without_children_is_the_duration(self):
        self.assertEqual(stats.self_time((2.5, 7.0), []), 4.5)

    def test_driver_only_is_wall_minus_job_union(self):
        # two concurrent jobs and one after: union 2..6 and 7..8
        self.assertEqual(stats.driver_only((0, 10), [(2, 5), (3, 6), (7, 8)]), 5)

    def test_driver_only_clips_jobs_to_the_span(self):
        self.assertEqual(stats.driver_only((5, 10), [(0, 6), (9, 20)]), 3)


def _raw_trace():
    """One traced op: op span 0..100 ms holding a fit span 0..40 with two
    jobs and a columnar span 40..70 with one job of two stages."""
    spans = [
        {"id": 0, "layer": "bench", "phase": "op", "parent": -1, "op": 0,
         "start_ms": 0, "end_ms": 100, "attrs": {}},
        {"id": 1, "layer": "ml.InfoThSelector", "phase": "fit", "parent": 0, "op": 0,
         "start_ms": 0, "end_ms": 40, "attrs": {}},
        {"id": 2, "layer": "core.Columnar", "phase": "transpose", "parent": 0, "op": 0,
         "start_ms": 40, "end_ms": 70, "attrs": {}},
        {"id": 3, "layer": "core.Histograms", "phase": "relevance", "parent": 0, "op": 0,
         "start_ms": 70, "end_ms": 80, "attrs": {}},
        {"id": 4, "layer": "core.InfoTheory", "phase": "relevance", "parent": 0, "op": 0,
         "start_ms": 80, "end_ms": 82, "attrs": {"tables": 3}},
        {"id": 5, "layer": "ml.InfoThSelectorModel", "phase": "transform", "parent": 0,
         "op": 0, "start_ms": 82, "end_ms": 90, "attrs": {"gather_rows": 7}},
    ]
    jobs = [{"id": 0, "span": 1, "start_ms": 5, "end_ms": 15},
            {"id": 1, "span": 1, "start_ms": 20, "end_ms": 30},
            {"id": 2, "span": 2, "start_ms": 45, "end_ms": 65}]
    stage = {"tasks": 4, "run_ms": 8, "cpu_ns": 10**6, "shuffle_write_bytes": 100,
             "result_bytes": 10, "input_bytes": 0, "task_run_ms": [1, 2, 2, 3]}
    stages = [dict(stage, id=0, job=0), dict(stage, id=1, job=1),
              dict(stage, id=2, job=2), dict(stage, id=3, job=2)]
    return {"trace": {"spans": spans, "jobs": jobs, "stages": stages},
            "ops": [{"op": 0, "error": None}]}


class PerLayerTest(unittest.TestCase):
    def test_fit_counts_and_driver_only(self):
        m, _ = stats.per_layer(_raw_trace())
        self.assertEqual(m["fit.jobs"], 2)
        self.assertEqual(m["fit.tasks"], 8)
        self.assertAlmostEqual(m["fit.driver_only_s"], 0.020)
        self.assertAlmostEqual(m["fit.executor_run_s"], 0.016)
        self.assertAlmostEqual(m["fit.traced_p50_s"], 0.040)
        self.assertEqual(m["columnar.jobs"], 1)
        self.assertEqual(m["columnar.tasks"], 8)
        self.assertEqual(m["columnar.shuffle_write_bytes"], 200)
        self.assertEqual(m["model.gather_rows"], 7)

    def test_shares_exclude_the_traced_fit(self):
        m, table = stats.per_layer(_raw_trace())
        # op self time 100 - 90 = 10 ms; layers 30 + 10 + 2 + 8 = 50 ms
        self.assertAlmostEqual(m["self_share.core.Columnar"], 30 / 60)
        self.assertAlmostEqual(m["self_share.bench"], 10 / 60)
        shares = [r["share"] for r in table if r["share"] is not None]
        self.assertAlmostEqual(sum(shares), 1.0)
        fit = [r for r in table if r["layer"] == "ml.InfoThSelector"][0]
        self.assertIsNone(fit["share"])
        self.assertEqual(fit["jobs"], 2)

    def test_failed_ops_are_left_out(self):
        raw = _raw_trace()
        raw["ops"][0]["error"] = "path differs"
        m, table = stats.per_layer(raw)
        self.assertEqual(m["fit.jobs"], 0)
        self.assertEqual(table, [])


class EndToEndTest(unittest.TestCase):
    def test_metrics_from_ops(self):
        ops = [{"op": i, "fit_s": f, "pipeline_s": f + 1, "transform_s": 0.5,
                "rows": 100, "error": None} for i, f in enumerate([3.0, 1.0, 2.0])]
        ops.append({"op": 3, "fit_s": 9.0, "pipeline_s": 9.0, "transform_s": 1.0,
                    "rows": 100, "error": "wrong path"})
        raw = {"ops": ops, "loop_s": 6.0,
               "setup": {"session_s": 1.0, "warmup_s": 2.0,
                         "reps": [{"generate_s": 1, "reference_s": 1},
                                  {"generate_s": 5, "reference_s": 0},
                                  {"generate_s": 3, "reference_s": 0}]}}
        m, notes = stats.end_to_end(raw)
        self.assertEqual(m["fit_p50_s"], 2.0)
        self.assertEqual(m["fit_tail_s"], 3.0)
        self.assertEqual(m["fits_per_s"], 0.5)
        self.assertEqual(m["pipeline_p50_s"], 3.0)
        self.assertEqual(m["transform_rows_per_s"], 200)
        self.assertEqual(m["setup_s"], 1.0 + 3 + 2.0)
        self.assertIn("3 fits", notes["fit_tail"])


if __name__ == "__main__":
    unittest.main()
