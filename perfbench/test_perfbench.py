"""Tests of the benchmark's own code.

    python3 -m unittest perfbench/test_perfbench.py

The generator and check tests take seconds. The interval-union test and the
planted-fault runs build the program first (once per source change) and
start the benchmark JVM; set PERFBENCH_SKIP_JVM=1 to skip them.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SKIP_JVM = os.environ.get("PERFBENCH_SKIP_JVM") == "1"


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs_and_expectations(self):
        with tempfile.TemporaryDirectory() as t:
            e1 = gen.pipeline_source(7, os.path.join(t, "a"), n_day1=3000)
            e2 = gen.pipeline_source(7, os.path.join(t, "b"), n_day1=3000)
            self.assertEqual(e1, e2)
            self.assertTrue(_same_tree(os.path.join(t, "a"), os.path.join(t, "b")))
            gen.query_tables(7, os.path.join(t, "qa"), sf=0.001)
            gen.query_tables(7, os.path.join(t, "qb"), sf=0.001)
            self.assertTrue(_same_tree(os.path.join(t, "qa"), os.path.join(t, "qb")))

    def test_other_seed_other_inputs_and_expectations(self):
        with tempfile.TemporaryDirectory() as t:
            e1 = gen.pipeline_source(7, os.path.join(t, "a"), n_day1=3000)
            e2 = gen.pipeline_source(8, os.path.join(t, "b"), n_day1=3000)
            for run_name in ("day1", "day2", "backfill"):
                self.assertNotEqual(e1[run_name]["target"], e2[run_name]["target"])
            gen.query_tables(7, os.path.join(t, "qa"), sf=0.001)
            gen.query_tables(8, os.path.join(t, "qb"), sf=0.001)
            self.assertFalse(_same_tree(os.path.join(t, "qa"), os.path.join(t, "qb")))

    def test_quirks_reach_the_expectations(self):
        with tempfile.TemporaryDirectory() as t:
            e = gen.pipeline_source(3, t, n_day1=5000)
        d1, d2 = e["day1"], e["day2"]
        self.assertGreater(d1["stats"]["quarantined"], 0)
        # in-batch duplicates and the unmatched dimension name both shrink
        # the merged count below the staged count
        self.assertLess(d1["stats"]["unique_records"], d1["stats"]["records_processed"])
        # day 2 updates existing keys: fewer new rows than merged rows
        self.assertLess(d2["target"]["rows"] - d1["target"]["rows"],
                        d2["stats"]["unique_records"])
        # late and on-the-watermark rows of day 2 are never staged
        self.assertLess(d2["stats"]["records_processed"], e["rows_day2"])

    def test_merge_key_folds_like_the_normalizer(self):
        self.assertEqual(gen.merge_key("RÉf.00$1  ", None), "ref001")
        self.assertEqual(gen.merge_key("ref001", ""), "ref001")
        self.assertEqual(gen.merge_key("ref001", "Blue "), "ref001_blue")
        self.assertEqual(gen.merge_key("x" * 120, None), "x" * 100)
        self.assertEqual(gen.merge_key("ref 中国", None), gen.merge_key("REF 中国  ", None))
        self.assertNotEqual(gen.merge_key("ref 中国", None), gen.merge_key("ref 한국", None))


class QueryCheckTest(unittest.TestCase):

    def test_identical_rows_in_any_order_pass(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
        self.assertIsNone(run.frames_differ(a.iloc[::-1].reset_index(drop=True), a))

    def test_one_wrong_row_fails(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
        self.assertIsNotNone(run.frames_differ(run.plant_wrong_row(a), a))
        self.assertIsNotNone(run.frames_differ(a.iloc[:2], a))


def _bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


@unittest.skipIf(SKIP_JVM, "PERFBENCH_SKIP_JVM=1")
class JvmTest(unittest.TestCase):

    def test_interval_union(self):
        import build
        p = subprocess.run(
            ["java", "-cp", os.pathsep.join(build.build()), "graft.perfbench.SelfTest"],
            capture_output=True, text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stderr)

    def test_planted_target_fault_raises_failed_frac(self):
        small = ["--seed", "5", "--seconds", "1", "--trace", "0", "--rows", "3000"]
        clean = _bench("--workload", "daily_incremental", *small)
        self.assertEqual(clean["failed"], 0)
        self.assertTrue(clean["correct"])
        faulty = _bench("--workload", "daily_incremental", *small,
                        "--plant", "drop_target_row")
        self.assertGreater(faulty["failed"] / faulty["attempted"], 0)
        self.assertFalse(faulty["correct"])

    def test_unlisted_pipeline_workloads_pass_their_checks(self):
        for w in ("backfill", "daily_incremental_bucketed"):
            r = _bench("--workload", w, "--seed", "5", "--seconds", "1", "--trace", "0",
                       "--rows", "3000")
            self.assertTrue(r["correct"], w)
            self.assertGreater(r["metrics"]["run_s"]["value"], 0, w)

    def test_traced_run_reports_every_layer_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        r = _bench("--workload", "daily_incremental", "--seed", "5", "--seconds", "1",
                   "--trace", "1", "--rows", "3000")
        self.assertTrue(r["correct"])
        self.assertEqual(set(r["metrics"]), {m["name"] for m in spec["per_layer"]})
        v = {k: m["value"] for k, m in r["metrics"].items()}
        for step in ("extract", "dedup", "upsert", "watermark"):
            self.assertGreater(v[f"{step}.s"], 0, step)
            self.assertGreater(v[f"{step}.jobs"], 0, step)
        self.assertGreater(v["target.scan_s"], 0)
        self.assertGreater(v["upsert.bytes_written"], 0)
        self.assertAlmostEqual(v["trace.overhead_s"],
                               v["trace.steps_s"] - v["trace.untraced_run_s"], places=6)

    def test_planted_query_fault_raises_failed_frac(self):
        faulty = _bench("--workload", "query_mix", "--seed", "5", "--seconds", "1",
                        "--trace", "0", "--sf", "0.01", "--plant", "wrong_query_row")
        self.assertEqual(faulty["failed"], 1)
        self.assertFalse(faulty["correct"])


if __name__ == "__main__":
    unittest.main()
