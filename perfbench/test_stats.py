"""Tests for the benchmark's own arithmetic and sampler.

Run from the root of a checkout:  python3 -m unittest discover perfbench
"""
import statistics
import unittest

import metrics
import stats


class TailTest(unittest.TestCase):
    def test_highest_level_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        label, v, n = stats.tail(list(range(1, 101)))
        self.assertEqual((label, v, n), ("p90", 90, 100))

    def test_twenty_samples_give_the_median(self):
        label, v, _ = stats.tail(list(range(1, 21)))
        self.assertEqual((label, v), ("p50", 10))

    def test_forty_samples_give_p75(self):
        label, v, _ = stats.tail([float(x) for x in range(40, 0, -1)])
        self.assertEqual((label, v), ("p75", 30.0))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), ("max", 3.0, 3))

    def test_ten_beyond_is_never_violated(self):
        for n in range(1, 300):
            label, v, _ = stats.tail(list(range(n)))
            if label != "max":
                self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))

    def test_known_values(self):
        # exclusive method over 1..10: q1 = 2.75, median 5.5, q3 = 8.25
        self.assertEqual(stats.quartiles(list(range(1, 11))), (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread(list(range(1, 11))), 5.5 / 5.5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "layer": layer}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 10)]), {1: 10})

    def test_nested_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 2, 20, 30),
                 span(4, 1, 50, 60)]
        own = stats.self_times(spans)
        self.assertEqual(own, {1: 60, 2: 20, 3: 10, 4: 10})
        # self times partition the root's duration
        self.assertEqual(sum(own.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 10, 20), span(2, 1, 15, 40), span(3, 1, 0, 12)]
        self.assertEqual(stats.self_times(spans)[1], 3)

    def test_layer_totals(self):
        spans = [span(1, 0, 0, 100, "run"), span(2, 1, 0, 40, "build"),
                 span(3, 1, 40, 90, "exec"), span(4, 3, 50, 60, "plan")]
        self.assertEqual(stats.layer_self_times(spans),
                         {"run": 10, "build": 40, "exec": 40, "plan": 10})


CATALOG = [{"name": "%s_%d" % (f, i), "family": f}
           for f, n in (("A", 6), ("B", 70), ("C", 1), ("D", 9)) for i in range(n)]


class SamplerTest(unittest.TestCase):
    def test_same_seed_same_sample_and_order(self):
        for seed in (0, 1, 42, 2**31):
            self.assertEqual(stats.sample_queries(CATALOG, seed, 2),
                             stats.sample_queries(list(reversed(CATALOG)), seed, 2))

    def test_every_family_is_covered(self):
        for seed in range(50):
            got = stats.sample_queries(CATALOG, seed, 2)
            fams = [n.split("_")[0] for n in got]
            self.assertEqual(sorted(set(fams)), ["A", "B", "C", "D"])
            # min(per_family, size) from each family, no repeats
            self.assertEqual(sorted(fams), ["A", "A", "B", "B", "C", "D", "D"])
            self.assertEqual(len(set(got)), len(got))

    def test_seeds_differ(self):
        samples = {tuple(stats.sample_queries(CATALOG, s, 2)) for s in range(20)}
        self.assertGreater(len(samples), 10)

    def test_seeded_order_is_a_permutation(self):
        names = ["q%d" % i for i in range(16)]
        a = stats.seeded_order(names, 7)
        self.assertEqual(a, stats.seeded_order(list(reversed(names)), 7))
        self.assertEqual(sorted(a), sorted(names))
        self.assertNotEqual(a, stats.seeded_order(names, 8))


class OpLayerTest(unittest.TestCase):
    @staticmethod
    def span(sid, parent, start, end, layer="op", **counts):
        return {"id": sid, "parent": parent, "layer": layer, "start": start,
                "end": end, "counts": counts}

    def test_an_operation_totals_its_spans_and_everything_under_them(self):
        s = 10**9
        tree = metrics.Tree([
            self.span(1, 0, 0, 4 * s), self.span(2, 1, 0, s, jobs=2, tasks=5),
            self.span(3, 0, 4 * s, 6 * s),
            self.span(4, 3, 4 * s, 5 * s, jobs=1, tasks=1),
            self.span(5, 4, 4 * s, 4 * s + s // 2, layer="plan"),
            self.span(6, 0, 6 * s, 7 * s, jobs=7, tasks=9)])
        # spans 1 and 3 are one operation (a cold and a streaming pass)
        m = metrics._op_layer(tree, [[1, 3]])
        self.assertEqual((m["jobs"], m["tasks"]), (3, 6))
        self.assertEqual((m["wall_s"], m["plan_s"]), (6.0, 0.5))
        # medians over operations: [1, 3] totals 3 jobs, [6] has 7
        m = metrics._op_layer(tree, [[1, 3], [6], [6]])
        self.assertEqual(m["jobs"], 7)


if __name__ == "__main__":
    unittest.main()
