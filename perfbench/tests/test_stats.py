"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests

The digest check runs the compiled harness (`perfbench.DigestCheck`), so it
builds the harness first when the sources changed.
"""

import os
import random
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        xs = list(range(1, 101))
        random.Random(3).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 50), (50, 50))
        self.assertEqual(stats.percentile(xs, 90), (90, 10))

    def test_p90_needs_a_hundred_samples_for_ten_beyond(self):
        _, beyond = stats.percentile(list(range(99)), 90)
        self.assertEqual(beyond, 9)
        _, beyond = stats.percentile(list(range(22)), 50)
        self.assertEqual(beyond, 11)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([2.5], 90), (2.5, 0))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 100), (10, 20), (100, 110)]), 110)

    def test_clipped_to_the_op(self):
        # jobs that straddle the op's edges count only inside it
        self.assertEqual(stats.union_length([(-5, 5), (8, 12), (30, 40)], 0, 10), 7)

    def test_outside_job_time(self):
        wall = 100
        covered = stats.union_length([(10, 30), (20, 50), (70, 80)], 0, wall)
        self.assertEqual(wall - covered, 50)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)


def ex(start, end, writes=(), reads=()):
    return {"start_ms": start, "end_ms": end, "writes": set(writes), "reads": set(reads)}


class AssetAttributionTest(unittest.TestCase):
    def pipeline_run(self):
        execs, t = [], 1000
        prev = None
        for a in stats.PIPELINE_ASSETS:
            # an upstream read, the staged write, then the read-back count
            execs.append(ex(t + 5, t + 20, reads=[prev] if prev else []))
            execs.append(ex(t + 30, t + 90, writes=[a], reads=[prev] if prev else []))
            execs.append(ex(t + 95, t + 99, reads=[a]))
            prev, t = a, t + 100
        execs.append(ex(t + 10, t + 20, reads=["artists"]))       # unresolved count
        execs.append(ex(t + 30, t + 60, reads=["artist_index"]))  # the checks
        return execs, t + 75

    def test_shares_add_up_to_the_wall_time(self):
        execs, end = self.pipeline_run()
        shares = stats.attribute_assets(999, end, execs)
        self.assertAlmostEqual(sum(shares.values()), (end - 999) / 1000.0, places=9)
        self.assertEqual(set(shares), set(stats.ASSETS) | {"checks"})

    def test_each_asset_owns_its_write_and_count(self):
        execs, end = self.pipeline_run()
        shares = stats.attribute_assets(999, end, execs)
        for a in stats.PIPELINE_ASSETS:
            self.assertAlmostEqual(shares[a], 0.1, places=9, msg=a)
        self.assertAlmostEqual(shares["unresolved_countries"], 0.021, places=9)
        self.assertAlmostEqual(shares["checks"], 0.055, places=9)

    def test_order_of_input_does_not_matter(self):
        execs, end = self.pipeline_run()
        shuffled = list(execs)
        random.Random(5).shuffle(shuffled)
        self.assertEqual(stats.attribute_assets(999, end, execs),
                         stats.attribute_assets(999, end, shuffled))

    def test_no_executions_is_all_checks(self):
        shares = stats.attribute_assets(0, 2000, [])
        self.assertEqual(shares["checks"], 2.0)
        self.assertEqual(sum(shares.values()), 2.0)


class DigestTest(unittest.TestCase):
    def test_digest_is_order_independent(self):
        classes = run.build()
        tmp = os.path.join(run.WORK, "tmp-selftest")
        os.makedirs(tmp, exist_ok=True)
        out = subprocess.run(run.java_cmd(classes, "perfbench.DigestCheck", [], tmp),
                             capture_output=True, text=True, timeout=120)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr)
        self.assertIn("ok   shuffled rows", out.stdout)


if __name__ == "__main__":
    unittest.main()
