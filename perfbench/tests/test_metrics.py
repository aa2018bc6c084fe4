"""Tests for perfbench/metrics.py. Run: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond it, p95 only 5
        p, v, n = metrics.tail_percentile(range(1, 101))
        self.assertEqual((p, v, n), (90.0, 90, 100))

    def test_larger_sample_reaches_higher_percentile(self):
        p, v, n = metrics.tail_percentile(range(1, 1001))
        self.assertEqual((p, v, n), (99.0, 990, 1000))
        p, v, _ = metrics.tail_percentile(range(1, 10001))
        self.assertEqual((p, v), (99.9, 9990))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))
        self.assertEqual(metrics.tail_percentile(xs)[0], 75.0)

    def test_small_sample_falls_back_to_upper_median(self):
        self.assertEqual(metrics.tail_percentile([3, 1, 2]), (50.0, 2, 3))
        self.assertEqual(metrics.tail_percentile([4, 1, 3, 2]), (50.0, 3, 4))
        # 20 samples: the median leaves exactly 10 beyond it
        self.assertEqual(metrics.tail_percentile(range(20))[0:2], (50.0, 9))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile([])


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (12, 20)], 5, 15), 8)
        self.assertEqual(metrics.union_length([(0, 1)], 2, 3), 0)



class LayerSelfTimeTest(unittest.TestCase):
    def spans(self):
        # id: (kind, start, end, parent)
        return {
            1: ("pass", 0, 100, 0),
            2: ("query", 0, 60, 1),
            3: ("build", 0, 20, 2),
            4: ("action", 20, 60, 2),
            5: ("job", 25, 55, 4),
            6: ("stage", 30, 40, 5),
            7: ("stage", 35, 50, 5),  # overlaps its sibling
            8: ("query", 70, 90, 1),
        }

    def test_parts_sum_to_root(self):
        parts = metrics.layer_self_times(self.spans(), 1)
        self.assertAlmostEqual(sum(parts.values()), 100)
        self.assertEqual(parts, {"pass": 20, "query": 20, "build": 20, "action": 10,
                                 "job": 10, "stage": 20})

    def test_self_time_is_span_minus_children(self):
        # job [25,55] minus its one stage [30,40]; action [20,60] minus the job
        s = self.spans()
        del s[7]
        parts = metrics.layer_self_times(s, 1)
        self.assertEqual((parts["job"], parts["action"], parts["stage"]), (20, 10, 10))

    def test_only_spans_under_root(self):
        s = self.spans()
        s[9] = ("pass", 100, 200, 0)
        s[10] = ("query", 100, 150, 9)
        self.assertEqual(metrics.layer_self_times(s, 9), {"pass": 50, "query": 50})


def raw_run():
    """A two-pass raw harness output with one job per execution."""
    passes = [{"pass": 1, "start": 0.0, "end": 1000.0, "codegen_ms": 5.0, "codegen_compiles": 2,
               "gc_ms": 3},
              {"pass": 2, "start": 1000.0, "end": 3000.0, "codegen_ms": 0.0, "codegen_compiles": 0,
               "gc_ms": 1}]
    execs, jobs, stages, tasks, spans = [], [], [], [], []
    jid = 0
    for p in passes:
        spans.append([len(spans) + 1, "pass", str(p["pass"]), p["start"], p["end"], 0, ""])
        pid = len(spans)
        t = p["start"]
        for q, mod in (("qa", "sql"), ("qb", "graph")):
            dur = (p["end"] - p["start"]) / 2
            execs.append({"pass": p["pass"], "query": q, "module": mod, "start": t,
                          "build_ms": dur / 4, "action_ms": 3 * dur / 4, "error": None})
            jid += 1
            jobs.append({"id": jid, "start": t, "end": t + dur / 4, "pass": p["pass"], "query": q,
                         "phase": "build", "tables": q == "qa"})
            stages.append({"id": jid, "job": jid, "start": t, "end": t + dur / 4})
            tasks.append([jid, jid, t, t + dur / 4, 100, 50.0, 1 << 20, 0, 0])
            tasks.append([jid, jid, t, t + dur / 8, 50, 25.0, 0, 1 << 20, 0])
            spans.append([len(spans) + 1, "query", q, t, t + dur, pid, q])
            spans.append([len(spans) + 1, "build", q, t, t + dur / 4, len(spans), q])
            t += dur
    return {"context": {"nproc": 2}, "setup_s": 4.5, "peak_heap_mb": 321.0,
            "warmup_codegen_ms": 900.0, "warmup_codegen_compiles": 40,
            "modules": {"qa": "sql", "qb": "graph"}, "passes": passes, "executions": execs,
            "jobs": jobs, "stages": stages, "tasks": tasks, "plans": [[10, 7], [1500, 3]],
            "spans": spans}


class EndToEndTest(unittest.TestCase):
    def test_values(self):
        m, latency, notes = metrics.end_to_end(raw_run(), set())
        self.assertEqual(m["setup_s"], (4.5, "s"))
        self.assertEqual(m["pass_s"], (1.5, "s"))
        self.assertEqual(latency["query_p50_ms"], (750.0, "ms"))
        self.assertEqual(m["task_s"], (0.3, "core-s"))
        self.assertEqual(m["peak_heap_mb"], (321.0, "MB"))
        self.assertEqual(notes["tail_samples"], 4)

    def test_wrong_results_are_not_timed(self):
        _, _, notes = metrics.end_to_end(raw_run(), {"qb"})
        self.assertEqual(notes["tail_samples"], 2)


class PerLayerTest(unittest.TestCase):
    def test_values(self):
        out = metrics.per_layer(raw_run(), ("sql", "graph", "text"))
        self.assertAlmostEqual(out["traced.pass_s"], 1.5)
        self.assertEqual(out["spark.jobs"], 2)
        self.assertEqual(out["Tables.load_jobs"], 1)
        self.assertEqual(out["queries.build_jobs"], 2)
        self.assertEqual(out["queries.jobs_per_query"], 1)
        self.assertEqual(out["spark.plan_ms"], 5)
        self.assertEqual(out["spark.codegen_compiles"], 1)
        self.assertEqual(out["warmup.codegen_compiles"], 40)
        self.assertAlmostEqual(out["spark.task_skew"], 100 / 75)
        self.assertAlmostEqual(out["spark.task_cpu_s"], 0.15)
        self.assertAlmostEqual(out["spark.shuffle_read_mb"], 2)
        self.assertAlmostEqual(out["sql.wall_s"], 0.75)
        self.assertAlmostEqual(out["graph.task_s"], 0.15)
        self.assertEqual(out["text.wall_s"], 0.0)
        # half of each pass is jobs' task time, the rest is driver-only
        self.assertAlmostEqual(out["spark.driver_only_ms"], 1125)
        self.assertAlmostEqual(sum(v for k, v in out.items() if k.startswith("self.")),
                               out["traced.pass_s"])


if __name__ == "__main__":
    unittest.main()
