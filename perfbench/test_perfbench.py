"""Tests of the benchmark's own logic. From the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

The digest test runs the JVM self-test, so it builds the harness first.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

KEYS = ["order_cumsum", "window_range_index", "window_rolling_corr",
        "window_rolling_distinct", "dedup_jaccard", "window_stream_tumbling"]


class KeyOrderTest(unittest.TestCase):
    def test_same_seed_same_order(self):
        for seed in (0, 1, 99):
            for p in range(5):
                self.assertEqual(run.key_order(KEYS, seed, p),
                                 run.key_order(list(reversed(KEYS)), seed, p))

    def test_order_is_a_permutation(self):
        self.assertEqual(sorted(run.key_order(KEYS, 3, 4)), sorted(KEYS))

    def test_seed_and_pass_change_the_order(self):
        self.assertGreater(len({tuple(run.key_order(KEYS, s, 0))
                                for s in range(20)}), 1)
        self.assertGreater(len({tuple(run.key_order(KEYS, 5, p))
                                for p in range(20)}), 1)

    def test_order_survives_a_new_interpreter(self):
        code = ("import sys; sys.path.insert(0, %r); import run; "
                "print(','.join(run.key_order(%r, 42, 7)))"
                % (run.HERE, KEYS))
        outs = {subprocess.run([sys.executable, "-c", code], text=True,
                               capture_output=True, check=True,
                               env=dict(os.environ, PYTHONHASHSEED=h)
                               ).stdout.strip() for h in ("1", "2", "3")}
        self.assertEqual(outs, {",".join(run.key_order(KEYS, 42, 7))})


class TailPercentileTest(unittest.TestCase):
    def beyond(self, xs, v):
        return sum(1 for x in xs if x > v)

    def test_p90_when_enough_samples(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail_percentile(xs), (90, 0.9, 100))
        self.assertEqual(self.beyond(xs, 90), 10)

    def test_falls_back_to_the_highest_supported_percentile(self):
        xs = list(range(1, 51))
        v, q, n = run.tail_percentile(xs)
        self.assertEqual((v, q, n), (40, 0.8, 50))
        self.assertEqual(self.beyond(xs, v), 10)

    def test_every_size_leaves_ten_beyond(self):
        for n in range(11, 300):
            xs = [x * 0.5 for x in range(n)]
            v, q, m = run.tail_percentile(xs)
            self.assertEqual(m, n)
            self.assertGreaterEqual(self.beyond(xs, v), 10)
            self.assertLessEqual(q, 0.9)

    def test_input_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(run.tail_percentile(xs),
                         run.tail_percentile(sorted(xs)))

    def test_too_few_samples_reports_the_median(self):
        self.assertEqual(run.tail_percentile([1, 2, 3, 4, 5]), (3, 0.5, 5))
        self.assertEqual(run.tail_percentile([]), (None, None, 0))


class DigestTest(unittest.TestCase):
    """Row order, partition order and a parquet round trip leave the digest
    alone; -0.0, null position, duplicates and column names move it."""

    def test_jvm_self_test(self):
        root = os.path.dirname(run.HERE)
        work = os.path.join(root, ".bench_build")
        os.makedirs(work, exist_ok=True)
        run.build(root, work)
        out = run.jvm(work, "2g", ["mode=selftest"], 170, "selftest.log")
        self.assertIn("selftest ok", out)


if __name__ == "__main__":
    unittest.main()
