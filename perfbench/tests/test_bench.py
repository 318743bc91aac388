"""Tests of the benchmark's own code.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests

`PipelineExpectationTest` builds the harness (sbt) on first use and runs
`ClaimPipeline.run` in a JVM, so it takes a minute or two.
"""

import filecmp
import json
import os
import shutil
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen_claims  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SMALL = dict(gen_claims.BACKFILL, claims=3000)


def scratch(name):
    return run.fresh_dir(os.path.join(run.ROOT, ".bench_work", "tests", name))


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = scratch("gen_a"), scratch("gen_b"), scratch("gen_c")
        gen_claims.generate_backfill(a, 7, SMALL)
        gen_claims.generate_backfill(b, 7, SMALL)
        gen_claims.generate_backfill(c, 8, SMALL)
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        self.assertIn("alpha_00.csv", differ)
        self.assertIn("expected.json", differ)

    def test_every_bucket_and_branch_is_covered(self):
        plan = gen_claims.generate_backfill(scratch("gen_cover"), 3, SMALL)
        exp = plan["batches"][0]
        self.assertTrue(all(v > 0 for v in exp["excluded"].values()), exp["excluded"])
        self.assertGreater(exp["flagged"], 0)
        flag_rate = exp["flagged"] / exp["total_processed"]
        self.assertAlmostEqual(flag_rate, SMALL["flag_rate"], delta=0.05)

    def test_reference_model_rules(self):
        m = gen_claims.model_outcome
        ok = ("alpha", "A1", "P1", "Missing modifier", "denied", "2025-07-22")
        self.assertEqual(m(*ok), ("A1", None))
        # 8 days old passes the strict 7-day rule, 7 days old does not.
        self.assertEqual(m("alpha", "A1", "P1", "x not billable y", "Denied", "2025-07-23")[1],
                         "too_recent")
        self.assertEqual(m("beta", " B1 ", "P1", " prior auth required ", " DENIED ",
                           "2025-07-01T10:00:00"), ("B1", None))
        self.assertEqual(m("alpha", "A1", "P1", "Authorization expired", "denied",
                           "2025-07-01")[1], "non-retryable_or_ambiguous")
        self.assertEqual(m("alpha", "A1", "P1", "None", "denied", "2025-07-01")[1],
                         "non-retryable_or_ambiguous")
        self.assertEqual(m("alpha", "A1", "  ", "Missing modifier", "denied",
                           "2025-07-01")[1], "patient_id_missing")
        self.assertEqual(m("alpha", "A1", "P1", "Missing modifier", "denied",
                           " 2025-07-01")[1], "too_recent")
        self.assertEqual(m("alpha", "A1", "P1", "Missing modifier", None, "2025-07-01")[1],
                         "not_denied_status")


class StatsTest(unittest.TestCase):

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(3), 50.0)
        for n in (20, 40, 100, 200, 1000, 5000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10)

    def test_percentile_and_quartiles(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)
        self.assertEqual(stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])[1], 3.0)
        s = stats.summary(xs)
        self.assertEqual((s["n"], s["tail_p"]), (100, 90.0))

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "name": "batch", "run": "r", "start": 0.0, "end": 10.0},
            # children overlap each other (2..5 and 4..6): 4s covered, not 5s
            {"id": 1, "parent": 0, "name": "a", "run": "r", "start": 2.0, "end": 5.0},
            {"id": 2, "parent": 0, "name": "a", "run": "r", "start": 4.0, "end": 6.0},
            # a child running past its parent is clipped to the parent
            {"id": 3, "parent": 0, "name": "b", "run": "r", "start": 9.0, "end": 11.0},
            # a grandchild counts against its own parent only
            {"id": 4, "parent": 1, "name": "c", "run": "r", "start": 2.5, "end": 3.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[1], 3.0 - 0.5)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[4], 0.5)
        self.assertEqual(stats.self_time_by_run(spans, "a"), {"r": 2.5 + 2.0})


class BenchmarkJsonTest(unittest.TestCase):

    def test_metrics_match_what_run_py_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        units = run.per_layer_units(sorted(run.load_mix()["queries"]))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, units)


class PipelineExpectationTest(unittest.TestCase):

    def test_generator_expectations_equal_a_pipeline_run(self):
        work = scratch("pipeline")
        classpath, options = run.ensure_build()
        jvm = run.Jvm(classpath, options, work, time.monotonic() + 600)
        inputs = os.path.join(work, "inputs")
        gplan = gen_claims.generate_backfill(inputs, 11, SMALL)
        os.makedirs(os.path.join(work, "out"))
        plan = dict(run.base_plan("claims", work, 0), seconds=0, min_ops=1, warmup=0,
                    inputs=inputs, scratch=os.path.join(work, "out"),
                    batches=[{"id": b["id"], "files": b["files"]} for b in gplan["batches"]])
        res = jvm.run(plan)
        self.assertEqual(len(res["ops"]), 1)
        self.assertEqual(run.claims_op_problems(res["ops"][0], gplan["batches"][0]), [])
        # A wrong count is reported as a problem, not silently accepted.
        wrong = dict(gplan["batches"][0], flagged=gplan["batches"][0]["flagged"] + 1)
        self.assertNotEqual(run.claims_op_problems(res["ops"][0], wrong), [])
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
