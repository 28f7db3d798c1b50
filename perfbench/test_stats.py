"""Self-tests of the benchmark's statistics, failure counting, metric line,
end-to-end metrics, per-layer attribution and input reuse.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import tempfile
import unittest

import gen
import layers
import stats
from workloads import PREDICTIONS


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.0]), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_by_nearest_rank(self):
        # n=20: p50 is rank 10, ten beyond; p51 would be rank 11, nine beyond
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.nearest_rank(list(range(20, 0, -1)), 50), 10)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_smallest_sample_counts(self):
        # n=11: only rank 1 has ten samples beyond it; n=12: rank 2 (p16)
        self.assertEqual(stats.tail_percentile(11), 9)
        self.assertEqual(stats.tail_percentile(12), 16)
        self.assertEqual(stats.nearest_rank([5.0] + [9.0] * 10, 9), 5.0)
        with self.assertRaises(ValueError):
            stats.tail_percentile(10)

    def test_always_at_least_ten_beyond(self):
        for n in range(11, 400, 7):
            p = stats.tail_percentile(n)
            v = stats.nearest_rank(range(n), p)
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10)


class FailureTest(unittest.TestCase):
    def test_threw_and_mismatched_each_count_once(self):
        samples = [{"op": "a"}, {"op": "a", "error": "boom"}, {"op": "b"},
                   {"op": "b", "error": "boom"}, {"op": "c"}]
        self.assertEqual(stats.count_failures(samples, {"b": "rows 1 != 2"}), (5, 3))
        self.assertEqual(stats.count_failures(samples[:1], {}), (1, 0))

    def test_op_median_weights_ops_equally(self):
        def sample(op, ms):
            return {"op": op, "start": 0, "end": ms}
        samples = [sample("a", 100), sample("a", 300), sample("b", 1000),
                   sample("c", 5000), sample("c", 7000), sample("c", 9000)]
        self.assertEqual(stats.op_median(samples), 1.0)

    def test_pass_walls(self):
        samples = [{"pass": 0, "start": 0, "end": 1500}, {"pass": 1, "start": 0, "end": 500},
                   {"pass": 0, "start": 2000, "end": 2500}]
        self.assertEqual(stats.pass_walls(samples), [2.0, 0.5])


class ResultLineTest(unittest.TestCase):
    def test_shape(self):
        line = stats.result_line(True, 12, 0, {"wall_s": (1.25, "s"), "peak_rss_mb": (900.5, "MB")})
        self.assertNotIn("\n", line)
        got = json.loads(line)
        self.assertEqual(list(got), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(got["metrics"]["wall_s"], {"value": 1.25, "unit": "s"})
        self.assertIs(got["correct"], True)

    def test_rejects_bad_counts_and_values(self):
        with self.assertRaises(ValueError):
            stats.result_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            stats.result_line(False, 2, 3, {})
        with self.assertRaises(TypeError):
            stats.result_line(True, 2.0, 0, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 2, 0, {"wall_s": (float("nan"), "s")})


class LayersTest(unittest.TestCase):
    def test_covered_is_a_clipped_union(self):
        self.assertEqual(layers.covered([(0, 4), (2, 6), (8, 9)], 1, 10), 6)
        self.assertEqual(layers.covered([(0, 1)], 2, 3), 0)
        self.assertEqual(layers.covered([], 0, 1), 0)

    def harness(self):
        # one round of passes 0-3 (untraced / traced / traced / untraced)
        # over ops a and b, shown op by op; each build ends at build_end
        def run(op, pas, start, build_end, end):
            return {"op": op, "pass": pas, "traced": pas in (1, 2), "start": start,
                    "build_end": build_end, "end": end, "error": None,
                    "resident_bytes": 64 if (op, pas) == ("b", 1) else 0}
        job = dict(stages=1, tasks=2, task_failures=0, run_ms=100,
                   cpu_ns=5e7, gc_ms=1, in_bytes=10, in_records=1, shuffle_write=3,
                   shuffle_read=4, fetch_wait_ms=0, spill_disk=0, spill_mem=0,
                   out_bytes=0, out_records=0, sink_task_ms=0, group="")
        return {
            "cores": 2,
            "samples": [
                run("a", 0, 0, 100, 1000), run("a", 1, 1000, 1400, 2000),
                run("a", 2, 2000, 2400, 3000), run("a", 3, 3000, 3100, 3800),
                run("b", 0, 4000, 4100, 4500), run("b", 1, 4500, 4600, 5000),
                run("b", 2, 5000, 5100, 5500), run("b", 3, 5500, 5600, 5900)],
            "trace": {
                "reregistrations": 4,
                "jobs": [dict(job, id=1, start=1100, end=1300, out_bytes=50, out_records=5,
                              sink_task_ms=20),
                         dict(job, id=2, start=1500, end=1900),
                         dict(job, id=3, start=2100, end=2300),
                         dict(job, id=4, start=4700, end=4900),
                         dict(job, id=5, start=3200, end=3300)],  # in an untraced run
                "executions": [{"analysis": {"start": 1050, "end": 1060},
                                "optimization": {"start": 1060, "end": 1100},
                                "planning": {"start": 1100, "end": 1120}}],
                "batches": [{"trigger_ms": 300, "add_batch_ms": 200, "state_commit_ms": 50}]},
        }

    def test_attribution(self):
        m = {k: v for k, (v, _) in layers.per_layer(self.harness()).items()}
        self.assertEqual(set(m), set(PREDICTIONS))
        # two traced passes: totals are halved
        self.assertEqual(m["sched.jobs"], 2)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertAlmostEqual(m["queries.build_s"], 0.5)
        self.assertAlmostEqual(m["exec.noop_write_s"], 1.0)
        # a/1: 1000 ms minus the union of Catalyst 1050..1120, job 1
        # 1100..1300 and job 2 1500..1900 (650 ms) -> 350; a/2: 1000 - 200;
        # b/1: 500 - 200; b/2: 500
        self.assertAlmostEqual(m["driver.self_s"], 0.975)
        self.assertAlmostEqual(m["catalyst.optimization_s"], 0.02)
        self.assertEqual(m["catalyst.executions"], 0.5)
        self.assertEqual(m["connections.sink_bytes"], 25)
        self.assertAlmostEqual(m["sched.core_busy_frac"], 0.4 / (3.0 * 2))
        self.assertEqual(m["streaming.batches"], 0.5)
        self.assertEqual(m["functions.reregistrations"], 2)
        self.assertEqual(m["cache.resident_bytes"], 64)
        # traced 3000 ms against untraced 2700 ms
        self.assertAlmostEqual(m["trace.overhead_frac"], 3000 / 2700 - 1)

    def test_untraced_drift(self):
        # last untraced runs 800 + 400 ms against first 1000 + 500 ms
        self.assertAlmostEqual(layers.untraced_drift(self.harness()), -0.2)

    def test_spans_have_parents(self):
        sp = layers.spans(self.harness())
        by_id = {s["id"]: s for s in sp}
        jobs = {s["name"]: s for s in sp if s["kind"] == "job"}
        self.assertEqual(by_id[jobs["job 1"]["parent"]]["name"], "a")
        self.assertIsNone(jobs["job 5"]["parent"])
        ops = [s for s in sp if s["kind"] == "op"]
        self.assertEqual(len(ops), 4)
        self.assertTrue(all(s["parent"] is None for s in ops))
        self.assertTrue(all(by_id[s["parent"]]["kind"] == "op"
                            for s in sp if s["kind"] in ("queries", "exec")))


class EndToEndTest(unittest.TestCase):
    def test_tail_percentile_follows_the_samples_taken(self):
        import run

        def sample(op, pas, ms):
            return {"op": op, "pass": pas, "start": 0, "end": ms}
        ok = [sample(f"o{i}", p, 100 * (i + 1) + p) for i in range(6) for p in range(2)]
        m = run.end_to_end({"first_timed_ms": 5000.0, "peak_rss_kb": 2048, "samples": ok},
                           1.0, ok)
        self.assertEqual((m["setup_s"], m["peak_rss_mb"]), (4.0, 2.0))
        # 12 samples: p16 (rank 2, 101 ms) has ten beyond it
        self.assertIn("0.1010 s (p16 of 12 op samples)", run.op_tail(ok))
        # an op dropped as failed leaves ten samples: no percentile qualifies
        self.assertIn("n/a (10 op samples", run.op_tail(ok[2:]))


class InputReuseTest(unittest.TestCase):
    def test_new_input_drops_what_was_cached_for_the_old(self):
        with tempfile.TemporaryDirectory() as d:
            data = os.path.join(d, "in")
            gen.write(data, 1, 0.05)
            cached = os.path.join(data, "oracle", "op.pkl")
            os.makedirs(os.path.dirname(cached))
            open(cached, "w").close()
            gen.write(data, 1, 0.05)
            self.assertTrue(os.path.exists(cached))  # same input: reused
            m = gen.write(data, 1, 0.1)
            self.assertEqual(m["scale"], 0.1)
            self.assertFalse(os.path.exists(cached))


if __name__ == "__main__":
    unittest.main()
