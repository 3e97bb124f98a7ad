"""Tests of the benchmark's own arithmetic and input determinism.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen
import stats


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_nested_and_touching(self):
        self.assertAlmostEqual(stats.union_length([(0, 1), (2, 3)]), 2.0)
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3)]), 3.0)
        self.assertAlmostEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10.0)
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertAlmostEqual(stats.union_length([(5, 6), (0, 1), (0.5, 2)]), 3.0)
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0.0)

    def test_driver_gap_is_wall_minus_union_of_jobs_clipped_to_wall(self):
        # wall 0..10; jobs 1..3 and 2..4 overlap (union 3), 9..12 is
        # clipped to 9..10: gap = 10 - 4 = 6
        self.assertAlmostEqual(
            stats.driver_gap((0, 10), [(1, 3), (2, 4), (9, 12)]), 6.0)
        self.assertAlmostEqual(stats.driver_gap((0, 10), []), 10.0)
        self.assertAlmostEqual(stats.driver_gap((0, 10), [(-5, 20)]), 0.0)


class SpeedAdjusted(unittest.TestCase):
    # kernel at the reference time (speed 1) until 1 s, then at twice it
    # (speed 2 ** -SPEED_EXPONENT), and at half of it at 10 s
    SAMPLES = [(0.0, 0.002, 0.0), (1.0, 0.002, 0.0), (2.0, 0.004, 0.0), (3.0, 0.004, 0.0),
               (10.0, 0.001, 0.0)]
    SLOW = 2.0 ** -stats.SPEED_EXPONENT

    def test_reference_speed_keeps_wall_time(self):
        self.assertAlmostEqual(
            stats.speed_adjusted(0.2, 0.8, self.SAMPLES, 0.002, pad=0.3), 0.6)

    def test_slow_spell_shortens_and_mixed_speed_takes_the_median(self):
        self.assertAlmostEqual(
            stats.speed_adjusted(2.0, 3.0, self.SAMPLES, 0.002, pad=0.0), self.SLOW)
        # 0..3 s: speeds 1, 1, SLOW, SLOW -> median (1 + SLOW) / 2
        self.assertAlmostEqual(
            stats.speed_adjusted(0.0, 3.0, self.SAMPLES, 0.002, pad=0.0), 3 * (1 + self.SLOW) / 2)

    def test_stolen_time_slows_the_host(self):
        # a quarter of the busy time stolen at reference kernel speed
        stolen = [(0.0, 0.002, 0.25), (1.0, 0.002, 0.25)]
        self.assertAlmostEqual(stats.speed_adjusted(0.0, 1.0, stolen, 0.002, pad=0.0), 0.75)

    def test_pad_and_nearest_sample(self):
        # 1.6..1.8 has no sample; the pad reaches 1.0 (speed 1) and 2.0
        self.assertAlmostEqual(
            stats.speed_adjusted(1.6, 1.8, self.SAMPLES, 0.002, pad=0.8), 0.2 * (1 + self.SLOW) / 2)
        # 7..8 has none even with the pad: the nearest sample (10 s) stands in
        self.assertAlmostEqual(
            stats.speed_adjusted(7.0, 8.0, self.SAMPLES, 0.002, pad=0.5),
            2.0 ** stats.SPEED_EXPONENT)
        self.assertAlmostEqual(
            stats.speed_adjusted(4.0, 5.0, self.SAMPLES, 0.002, pad=0.5), self.SLOW)
        with self.assertRaises(ValueError):
            stats.speed_adjusted(0.0, 1.0, [], 0.002)


class SelfTime(unittest.TestCase):
    def test_nested_spans_and_linked_jobs(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},   # job
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},    # plans.execute
            {"id": 3, "parent": 1, "start": 5.0, "end": 9.0},    # action
            {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},    # nested source call
        ]
        jobs = [
            {"span": 3, "start": 5.5, "end": 7.0},
            {"span": 3, "start": 6.5, "end": 8.5},               # overlaps the first
            {"span": 2, "start": 3.5, "end": 4.5},               # runs past its span
        ]
        st = stats.self_times(spans, jobs)
        self.assertAlmostEqual(st[1], 10 - 3 - 4)                # 3
        self.assertAlmostEqual(st[2], 3 - 1 - 0.5)               # 1.5
        self.assertAlmostEqual(st[3], 4 - 3)                     # 1
        self.assertAlmostEqual(st[4], 1)
        # when every child lies inside its parent, the self times plus the
        # union of the Spark jobs add back up to the root's wall time
        inner = [j for j in jobs if j["span"] == 3]
        total = sum(stats.self_times(spans, inner).values())
        self.assertAlmostEqual(total + stats.union_length(
            [(j["start"], j["end"]) for j in inner]), 10.0)


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile([3.0], 90), 3.0)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.reportable_percentile(100), 90)
        self.assertEqual(stats.reportable_percentile(99), 75)
        self.assertEqual(stats.reportable_percentile(200), 95)
        self.assertEqual(stats.reportable_percentile(1000), 99)
        self.assertEqual(stats.reportable_percentile(40), 75)
        self.assertEqual(stats.reportable_percentile(39), 50)
        self.assertIsNone(stats.reportable_percentile(19))


class PairRule(unittest.TestCase):
    def test_wins_nine_of_ten(self):
        lower = [(1.0, 0.9)] * 9 + [(1.0, 1.1)]
        self.assertTrue(stats.wins_most(lower, "lower"))
        self.assertFalse(stats.wins_most(lower[:8] + [(1.0, 1.1)] * 2, "lower"))
        higher = [(10, 11)] * 10
        self.assertTrue(stats.wins_most(higher, "higher"))
        self.assertFalse(stats.wins_most(higher, "lower"))
        self.assertFalse(stats.wins_most([], "lower"))

    def test_ties_do_not_win(self):
        self.assertFalse(stats.wins_most([(1.0, 1.0)] * 10, "lower"))

    def test_compare_row(self):
        parent = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.00]
        slower = [x * 1.3 for x in parent]
        row = stats.compare_metric(parent, slower, list(zip(parent, slower)), "lower", 0.1)
        self.assertTrue(row["regressed"])
        self.assertEqual(row["verdict"], "regressed")
        faster = [x * 0.8 for x in parent]
        row = stats.compare_metric(parent, faster, list(zip(parent, faster)), "lower", 0.1)
        self.assertEqual(row["verdict"], "improved")
        noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 0.8, 1.2, 1.0]
        row = stats.compare_metric(parent, noisy, list(zip(parent, noisy)), "lower", 0.1)
        self.assertEqual(row["verdict"], "unresolved")

    def test_spread_matches_statistics_quantiles(self):
        xs = [10, 12, 11, 13, 9, 10, 11, 12, 10, 11]
        q1, med, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)


class Determinism(unittest.TestCase):
    def _digest(self, d):
        h = hashlib.sha256()
        for dirpath, _, names in sorted(os.walk(d)):
            for n in sorted(names):
                if n == "manifest.json":
                    continue
                with open(os.path.join(dirpath, n), "rb") as f:
                    h.update(n.encode() + f.read())
        return h.hexdigest()

    def test_same_seed_same_bytes_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            cwd = os.getcwd()
            try:
                # hrefs inside the catalog are relative to the working
                # directory, so both trees are generated under the same name
                os.chdir(a)
                da, ma = gen.ensure(3, "inputs")
                digest_a = self._digest(da)
                os.chdir(b)
                db, mb = gen.ensure(3, "inputs")
                dc, mc = gen.ensure(4, "inputs")
                self.assertEqual(digest_a, self._digest(db))
                self.assertEqual(ma["tree_sha256"], mb["tree_sha256"])
                self.assertNotEqual(mb["tree_sha256"], mc["tree_sha256"])
                self.assertEqual(mb["sizes"]["eo_graphs"]["events_rows"],
                                 mc["sizes"]["eo_graphs"]["events_rows"])
            finally:
                os.chdir(cwd)


if __name__ == "__main__":
    unittest.main()
