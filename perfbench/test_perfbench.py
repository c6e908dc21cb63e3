"""Tests of the benchmark's own pieces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import shutil
import tempfile
import unittest
from unittest import mock

import gen
import metrics
import run

WORK = os.path.join(run.ROOT, ".perfbench_work")


def small_inputs():
    """Shrink the generator so a test builds an input set in well under a
    second; the structure (snapshot, batches, replays) is unchanged."""
    return mock.patch.multiple(gen, SITES=6, EVENTS_PER_SITE_HOUR=2,
                               BATCHES=6, REQUESTS=50)


def tree_files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK, prefix="test-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def make(self, name, seed):
        d = os.path.join(self.tmp, name)
        with small_inputs():
            gen.generate(d, seed)
        return d

    def test_same_seed_gives_identical_bytes(self):
        a, b = self.make("a", 7), self.make("b", 7)
        files = tree_files(a)
        self.assertEqual(files, tree_files(b))
        self.assertIn("requests.jsonl", files)
        self.assertTrue(any(f.startswith("batches/") for f in files))
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_inputs(self):
        a, c = self.make("a", 7), self.make("c", 8)
        files = tree_files(a)
        _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
        self.assertIn("snapshot/events.parquet/part-000.parquet", mismatch)
        self.assertIn("requests.jsonl", mismatch)

    def test_every_fifth_batch_replays_an_earlier_one(self):
        d = self.make("a", 7)
        replays = run.json.load(open(os.path.join(d, "meta.json")))["replays"]
        self.assertEqual(sorted(replays), ["b0004"])
        src = os.path.join(d, "batches", replays["b0004"], "part-000.parquet")
        self.assertTrue(filecmp.cmp(
            src, os.path.join(d, "batches", "b0004", "part-000.parquet"),
            shallow=False))

    def test_ensure_reuses_a_ready_set(self):
        root = os.path.join(self.tmp, "inputs")
        with small_inputs():
            d = gen.ensure(root, 3)
            stamp = os.path.getmtime(os.path.join(d, "meta.json"))
            self.assertEqual(gen.ensure(root, 3), d)
        self.assertEqual(os.path.getmtime(os.path.join(d, "meta.json")), stamp)


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        # p95 of n samples has n - ceil(0.95 n) samples above it
        self.assertIsNone(metrics.tail_percentile(list(range(199)), 95))
        self.assertEqual(metrics.tail_percentile(list(range(200)), 95), 189)
        self.assertIsNone(metrics.tail_percentile(list(range(19)), 50))
        self.assertEqual(metrics.tail_percentile(list(range(20)), 50), 9)
        self.assertIsNone(metrics.tail_percentile([], 50))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        span = lambda i, p, s, e: {"id": i, "parent": p, "start_us": s, "end_us": e}
        spans = [
            span(1, 0, 0, 100),
            span(2, 1, 10, 40),    # children 2 and 3 overlap on 30..40
            span(3, 1, 30, 60),
            span(4, 1, 90, 120),   # runs past its parent: clipped at 100
            span(5, 2, 15, 20),
        ]
        self.assertEqual(metrics.self_times(spans),
                         {1: 100 - 50 - 10, 2: 30 - 5, 3: 30, 4: 30, 5: 5})

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(metrics.union_length([]), 0)


class RunDirTest(unittest.TestCase):
    def test_run_dir_is_removed_on_success_and_on_failure(self):
        with run.run_dir(WORK) as d:
            os.makedirs(os.path.join(d, "wh", "bronze"))
            os.makedirs(os.path.join(d, "landing", "b0000"))
        self.assertFalse(os.path.exists(d))
        with self.assertRaises(RuntimeError):
            with run.run_dir(WORK) as d:
                open(os.path.join(d, "x"), "w").close()
                raise RuntimeError("harness failed")
        self.assertFalse(os.path.exists(d))


if __name__ == "__main__":
    unittest.main()
