"""Self-tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import unittest

import stats

FIXTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), ".bench_work", "selftest")


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))          # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 6          # 30 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 30)
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(value, sorted(xs)[19])

    def test_below_twenty_samples_is_the_median(self):
        self.assertEqual(stats.tail([3, 1, 2]), (2, 50.0, 3))
        self.assertEqual(stats.tail(list(range(19)))[1], 50.0)

    def test_exactly_twenty(self):
        value, pct, _ = stats.tail(list(range(20)))
        self.assertEqual((value, pct), (9, 50.0))

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class CoveredTest(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        jobs = [(10, 20), (15, 30), (40, 50)]
        self.assertEqual(stats.covered((0, 100), jobs), 30)

    def test_clipped_to_window(self):
        jobs = [(0, 20), (90, 200)]
        self.assertEqual(stats.covered((10, 100), jobs), 20)

    def test_nested_and_touching(self):
        jobs = [(10, 50), (20, 30), (50, 60)]
        self.assertEqual(stats.covered((0, 100), jobs), 50)

    def test_outside_and_empty(self):
        self.assertEqual(stats.covered((10, 20), [(0, 5), (30, 40)]), 0)
        self.assertEqual(stats.covered((10, 20), []), 0)

    def test_gap_is_wall_minus_union(self):
        wall = (1000, 1300)
        jobs = [(1010, 1100), (1050, 1150), (1200, 1250)]
        self.assertEqual(wall[1] - wall[0] - stats.covered(wall, jobs), 110)


class StoredTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(FIXTURE, ignore_errors=True)
        files = {
            "sales/part-0.parquet": 100,
            "sales/part-1.parquet": 50,
            "sales/_MANIFEST.v3": 7,
            "sales/_SEG.abc": 11,
            "sales/.part-0.parquet.crc": 9,
            "mv/_MV.v1": 5,
            "mv/data/p.csv": 3,
        }
        for rel, size in files.items():
            path = os.path.join(FIXTURE, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(b"x" * size)

    def tearDown(self):
        shutil.rmtree(FIXTURE, ignore_errors=True)

    def test_counts_and_bytes(self):
        self.assertEqual(stats.stored(FIXTURE), (3, 3, 176))

    def test_missing_root(self):
        self.assertEqual(stats.stored(os.path.join(FIXTURE, "none")), (0, 0, 0))


if __name__ == "__main__":
    unittest.main()
