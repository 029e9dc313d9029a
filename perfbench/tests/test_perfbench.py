"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests

The generator test builds the benchmark (see build.py) and is skipped
when no Spark installation is available.
"""

import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import run  # noqa: E402

with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def fake_raw():
    return {
        "setup_s": 30.5, "blocks": 30, "drain_s": 24.0,
        "op_ms": [8000.0, 7000.0, 9000.0], "peak_rss_mb": 1500.0,
        "attempted": 3, "master": "local[4]",
        "checks": [{"name": "rows.events", "ok": True, "expected": "5", "actual": "5"}],
        "layers": {name: ([3.0, 1.0, 2.0] if name.endswith("_p50") else 4.0)
                   for name in run.PER_LAYER},
    }


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(run.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(run.percentile(list(range(1, 12)), 90), 10)
        self.assertEqual(run.percentile([1, 2], 0), 1)
        self.assertEqual(run.percentile([1, 2], 100), 2)

    def test_single_sample(self):
        self.assertEqual(run.percentile([7.5], 50), 7.5)
        self.assertEqual(run.percentile([7.5], 90), 7.5)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_summarize_counts_samples(self):
        self.assertEqual(run.summarize([5.0, 1.0, 3.0]), (3.0, 3))
        self.assertEqual(run.summarize([]), (0.0, 0))
        self.assertEqual(run.summarize(2), (2.0, 1))


class MetricsTest(unittest.TestCase):
    def test_tables_match_benchmark_json(self):
        e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)

    def test_untraced_run_reports_every_end_to_end_metric(self):
        res, metrics = run.result(fake_raw(), trace=False)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(res["metrics"]), {m["name"] for m in BENCHMARK["end_to_end"]})
        self.assertEqual(metrics["batch_ms_p50"], (8000.0, 3))
        self.assertEqual(metrics["blocks_per_s"], (1.25, 3))
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_traced_run_reports_every_per_layer_metric(self):
        res, metrics = run.result(fake_raw(), trace=True)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in BENCHMARK["per_layer"]})
        self.assertEqual(metrics["gold.intents_ms_p50"], (2.0, 3))
        for v in res["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})

    def test_timeout_scales_with_the_timed_region(self):
        self.assertEqual(run.timeout_s(10, trace=False), 170)
        self.assertEqual(run.timeout_s(10, trace=True), 170)
        self.assertEqual(run.timeout_s(20, trace=True), 290)
        self.assertEqual(run.timeout_s(60, trace=False), 290)

    def test_wrong_output_fails_every_operation(self):
        raw = fake_raw()
        raw["checks"].append({"name": "gold.n_transfers", "ok": False,
                              "expected": "9", "actual": "8"})
        res, _ = run.result(raw, trace=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs a Spark installation")
class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build_dir = build.build()
        work = os.path.join(build.BUILD_DIR, "work", f"selftest-{os.getpid()}")
        out = os.path.join(work, "selftest.json")
        try:
            ok = build.run_main(build_dir, work, ["--workload", "selftest", "--seed", "7",
                                                  "--out", out], timeout=120)
            assert ok, "selftest run failed"
            with open(out) as f:
                cls.facts = json.load(f)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_same_seed_same_chain(self):
        self.assertEqual(self.facts["digest"], self.facts["digest_again"])

    def test_other_seed_other_chain(self):
        self.assertNotEqual(self.facts["digest"], self.facts["digest_other_seed"])

    def test_chain_reaches_every_table_and_both_sides_of_the_ttl(self):
        for table, rows in self.facts["rows"].items():
            self.assertGreater(rows, 0, table)
        self.assertGreater(self.facts["unresolved"], 0)
        self.assertLess(self.facts["unresolved"], self.facts["lookups"])
        self.assertGreater(self.facts["drill_events"], 0)
        # hop gaps exactly on the 50-block TTL and one past it
        self.assertGreater(self.facts["chains_by_gap"].get("50", 0), 0)
        self.assertGreater(self.facts["chains_by_gap"].get("51", 0), 0)

    def test_probe_reads_the_table_a_write_inserts_into(self):
        self.assertEqual(self.facts["table_written"], "silver_nep245")
        self.assertEqual(self.facts["table_written_by_query"], "")


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs a Spark installation")
class ParityTest(unittest.TestCase):
    def test_tail_and_backfill_leave_identical_final_images(self):
        build_dir = build.build()
        work = os.path.join(build.BUILD_DIR, "work", f"parity-{os.getpid()}")
        out = os.path.join(work, "parity.json")
        try:
            ok = build.run_main(build_dir, work, ["--workload", "parity", "--seed", "3",
                                                  "--out", out], timeout=600)
            self.assertTrue(ok, "parity run failed")
            with open(out) as f:
                checks = json.load(f)["checks"]
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(len(checks), 12)
        for c in checks:
            self.assertTrue(c["ok"], c)


if __name__ == "__main__":
    unittest.main()
