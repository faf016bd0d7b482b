"""The benchmark's own tests.

  python3 -m unittest discover -s perfbench/tests        # unit tests, seconds
  PERFBENCH_E2E=1 python3 -m unittest discover -s perfbench/tests
                                                         # + a real run (builds once)

Run from the root of a checkout.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

import pandas as pd  # noqa: E402


def scratch():
    d = os.path.join(ROOT, ".bench_build", "tests")
    os.makedirs(d, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=d)


class MetricNames(unittest.TestCase):
    def test_printed_names_and_units_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(workloads.WORKLOADS))
        self.assertIn("setup_s", metrics.END_TO_END)


class SpanAlgebra(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        # children overlap (1-3, 2-5 -> 1-5) and one sticks out of the parent
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 10 - 4 - 2)

    def test_self_time_without_children_is_the_duration(self):
        self.assertEqual(metrics.self_time((5, 9), []), 4)

    def test_children_outside_the_parent_do_not_count(self):
        self.assertEqual(metrics.self_time((5, 9), [(0, 4), (10, 11)]), 4)

    def test_nested_and_touching_children(self):
        self.assertEqual(metrics.union_length([(0, 4), (1, 2), (4, 6)]), 6)
        self.assertEqual(metrics.self_time((0, 6), [(0, 4), (1, 2), (4, 6)]), 0)

    def test_owner_finds_the_enclosing_span(self):
        spans = [(0, 10), (10.5, 20), (30, 40)]
        self.assertEqual(metrics.owner(spans, 15), 1)
        self.assertEqual(metrics.owner(spans, 40.5), 2)   # within the 1 ms slack
        self.assertIsNone(metrics.owner(spans, 25))


def fake_run(ok_flags):
    samples = [{"pass": 1, "task": f"q{i}", "traced": False, "ok": ok, "error": "" if ok else "boom",
                "start_ms": 1000.0 * i, "build_ms": 10.0, "action_ms": 90.0}
               for i, ok in enumerate(ok_flags)]
    plan = {"tasks": [{"name": f"q{i}", "kind": "suite"} for i in range(len(ok_flags))]}
    result = {"samples": samples, "measure_start_ms": 0.0, "measure_end_ms": 1e4,
              "passes": [{"pass": 1, "traced": False, "start_ms": 0.0, "end_ms": 1e4,
                          "temp_views": 0, "persisted_rdds": 0, "heap_live_mb": 50.0}]}
    return plan, result


class ErrorRate(unittest.TestCase):
    def test_clean_run_has_no_errors(self):
        plan, result = fake_run([True, True])
        self.assertEqual(metrics.errors(plan, result, {"q0": None, "q1": None})[1], 0)

    def test_failed_query_counts_and_is_not_timed(self):
        plan, result = fake_run([True, False])
        attempted, failed, problems = metrics.errors(plan, result, {"q0": None, "q1": None})
        self.assertEqual((attempted, failed), (4, 1))
        e2e, extra = metrics.end_to_end(workloads.WORKLOADS["tuktu_ops"], {"rows": {}}, result, 1.0)
        self.assertEqual(extra["samples"], 1)   # the failed sample is not a latency

    def test_wrong_result_counts(self):
        plan, result = fake_run([True, True])
        failed = metrics.errors(plan, result, {"q0": "rows 3 != 4", "q1": None})[1]
        self.assertEqual(failed, 1)


class Oracle(unittest.TestCase):
    def test_canonical_compare(self):
        a = pd.DataFrame({"b": [2, 1], "a": ["x", "y"]})
        b = pd.DataFrame({"a": ["y", "x"], "b": [1, 2]})
        self.assertIsNone(oracle.compare(oracle.canon(a), oracle.canon(b)))
        c = pd.DataFrame({"a": ["y", "x"], "b": [1.0, 2.0]})
        self.assertIn("dtypes", oracle.compare(oracle.canon(a), oracle.canon(c)))
        d = pd.DataFrame({"a": ["y", "x"], "b": [1, 3]})
        self.assertIn("differ", oracle.compare(oracle.canon(a), oracle.canon(d)))


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with scratch() as d:
            gen.gen_tables(os.path.join(d, "a"), 7, 0.001)
            gen.gen_tables(os.path.join(d, "b"), 7, 0.001)
            gen.gen_tables(os.path.join(d, "c"), 8, 0.001)
            gen.gen_flow_inputs(os.path.join(d, "fa"), 7, 500)
            gen.gen_flow_inputs(os.path.join(d, "fb"), 7, 500)

            def read(p):
                with open(p, "rb") as f:
                    return f.read()
            for name in os.listdir(os.path.join(d, "a")):
                self.assertEqual(read(os.path.join(d, "a", name)), read(os.path.join(d, "b", name)))
            self.assertNotEqual(read(os.path.join(d, "a", "lineitem.parquet")),
                                read(os.path.join(d, "c", "lineitem.parquet")))
            for name in os.listdir(os.path.join(d, "fa")):
                self.assertEqual(read(os.path.join(d, "fa", name)),
                                 read(os.path.join(d, "fb", name)))

    def test_replicated_corpus_shares_no_tokens_across_copies(self):
        docs = gen.replicate_texts(["a b", "b c"], 2)
        self.assertEqual(docs, ["ax0 bx0", "bx0 cx0", "ax1 bx1", "bx1 cx1"])


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1 for a real run")
class EndToEnd(unittest.TestCase):
    def run_bench(self, *extra):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "tuktu_ops",
                            "--seed", "1", "--seconds", "1", *extra],
                           cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_deliberately_failing_query_raises_error_rate(self):
        out = self.run_bench("--fail-query")
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 2)   # its warm-up run and its timed run
        self.assertEqual(set(out["metrics"]), set(metrics.END_TO_END))

    def test_traced_run_prints_every_per_layer_metric(self):
        out = self.run_bench("--trace", "1")
        self.assertTrue(out["correct"])
        self.assertEqual(set(out["metrics"]), set(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
