"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The digest test runs the compiled harness, so it needs one earlier
run.py invocation from the repository root (it is skipped otherwise).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_lib  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        vals = list(range(1, 101))           # 100 samples
        pct, v, n = bench_lib.tail(vals)
        self.assertEqual((pct, v, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in vals if x > v), 10)

    def test_order_does_not_matter(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(bench_lib.tail(vals), bench_lib.tail(sorted(vals)))

    def test_smallest_sample_that_has_a_tail(self):
        self.assertIsNone(bench_lib.tail(list(range(10))))
        pct, v, n = bench_lib.tail(list(range(11)))
        self.assertEqual(v, 0)
        self.assertAlmostEqual(pct, 100 / 11)


class SeedPermutation(unittest.TestCase):
    names = [f"q{i}" for i in range(20)]

    def test_same_seed_same_orders(self):
        self.assertEqual(bench_lib.pass_orders(self.names, 7, 5),
                         bench_lib.pass_orders(self.names, 7, 5))

    def test_orders_are_permutations_that_vary(self):
        a = bench_lib.pass_orders(self.names, 7, 3)
        b = bench_lib.pass_orders(self.names, 8, 3)
        for order in a + b:
            self.assertEqual(sorted(order), sorted(self.names))
        self.assertNotEqual(a[0], b[0])
        self.assertNotEqual(a[0], a[1])


class Workloads(unittest.TestCase):
    def test_every_served_query_has_an_expected_result(self):
        for w, spec in run.WORKLOADS.items():
            with open(os.path.join(HERE, "expected", f"{w}.json")) as fh:
                expected = json.load(fh)
            self.assertEqual(sorted(expected), sorted(spec["serve"]), w)

    def test_every_workload_query_is_issued_once_per_pass(self):
        for w, spec in run.WORKLOADS.items():
            self.assertEqual(len(set(spec["serve"])), len(spec["serve"]), w)
            for order in bench_lib.pass_orders(spec["serve"], 1, 2):
                self.assertEqual(sorted(order), sorted(spec["serve"]))


class ResultCheck(unittest.TestCase):
    digest = {"count": 3, "h1": "11", "h2": "22"}

    def test_digest_must_match_exactly(self):
        self.assertIsNone(bench_lib.check_call("q", dict(self.digest),
                                               self.digest))
        bad = dict(self.digest, h2="23")
        self.assertIn("h2", bench_lib.check_call("q", bad, self.digest))
        self.assertIn("no expected", bench_lib.check_call("q", bad, None))

    def test_rating_range(self):
        got = dict(self.digest, rating_min=1.0, rating_max=5.0)
        self.assertIsNone(bench_lib.check_call("q", got, self.digest))
        got["rating_max"] = 5.5
        self.assertIn("[1, 5]", bench_lib.check_call("q", got, self.digest))

    def test_rows_within_tolerance(self):
        want = {"rows": [[0, 0.5, 1.0], [1, 0.4, 1.1]]}
        near = {"rows": [[0, 0.5002, 1.0], [1, 0.4, 1.1]]}
        far = {"rows": [[0, 0.51, 1.0], [1, 0.4, 1.1]]}
        self.assertIsNone(bench_lib.check_call("q", near, want))
        self.assertIn("row 0", bench_lib.check_call("q", far, want))
        self.assertIn("rows", bench_lib.check_call(
            "q", {"rows": want["rows"][:1]}, want))

    def test_trace_objective_must_not_rise(self):
        rising = {"rows": [[0, 0.5, 1.0], [1, 0.6, 1.1]]}
        self.assertIn("rose", bench_lib.check_call(
            "q_antidote_trace_grp", rising, rising))
        self.assertIsNone(bench_lib.check_call("q_other", rising, rising))


class Stamps(unittest.TestCase):
    def test_mismatch_names_first_differing_key(self):
        a = {"nproc": 4, "xmx_mb": 4096, "sf": "x", "trace": 0,
             "seconds": 10, "seed": 1}
        self.assertIsNone(bench_lib.stamp_mismatch(a, dict(a, seed=2)))
        self.assertEqual(bench_lib.stamp_mismatch(a, dict(a, nproc=8)),
                         "nproc")

    def test_win_fraction_pairs_by_seed(self):
        base = {1: 10.0, 2: 10.0, 3: 10.0}
        change = {1: 9.0, 2: 10.0, 3: 11.0, 4: 1.0}
        self.assertAlmostEqual(
            bench_lib.win_fraction(base, change, "lower"), 1 / 3)
        self.assertAlmostEqual(
            bench_lib.win_fraction(base, change, "higher"), 1 / 3)


class HarnessDigest(unittest.TestCase):
    """The Scala digest ignores row order and sees any changed value."""

    def test_digest_is_order_insensitive(self):
        build = os.path.join(".bench_build", "classes")
        if not os.path.isdir(os.path.join(build, "bench")):
            self.skipTest("harness not built; run run.py once first")
        cp = ":".join([f"{run.SPARK_JARS}/*", os.path.join(build, "main"),
                       os.path.join(build, "bench")])
        out = subprocess.run(["java"] + run.java_opens() +
                             ["-cp", cp, "perfbench.DigestCheck"],
                             capture_output=True, text=True, timeout=170)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        d = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(d["original"], d["reordered"])
        self.assertNotEqual(d["original"], d["changed"])
        self.assertNotEqual(d["original"], d["swapped_columns"])


if __name__ == "__main__":
    unittest.main()
