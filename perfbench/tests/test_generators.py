"""The seeded generators and the panel rule: one seed, one input; another
seed, another; the panel stands for the registry it was drawn from."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import workloads  # noqa: E402

# A synthetic registry: family sizes 12, 6 and 2, times 1..k within each.
TIMES = {**{f"q{i}_x": float(i) for i in range(1, 13)},
         **{f"ev_{i}": float(i) for i in range(1, 7)},
         **{f"mm_{i}": float(i) for i in range(1, 3)}}


def ops(plan):
    return [r for r in plan if r[0] == "op"]


class GeneratorTest(unittest.TestCase):
    def test_tables_repeat_per_seed(self):
        a, b, c = datagen.generate(7), datagen.generate(7), datagen.generate(8)
        for name in datagen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertEqual(a["lineitem"].num_rows, c["lineitem"].num_rows)

    def test_registry_order(self):
        self.assertEqual(workloads.registry(3), workloads.registry(3))
        self.assertNotEqual(workloads.registry(3), workloads.registry(4))
        (plan, weights), times = workloads.registry(3), workloads.load_times()
        self.assertEqual(sorted(r[2] for r in ops(plan)),
                         [q for q, _ in workloads.panel(times, workloads.REGISTRY_PANEL)])
        self.assertEqual(len(weights), workloads.REGISTRY_PANEL)
        self.assertAlmostEqual(sum(weights), len(times))

    def test_lake_layout(self):
        writes = lambda s: [r for r in workloads.lake(s)[0] if r[1] == "write"]
        self.assertEqual(workloads.lake(5), workloads.lake(5))
        self.assertNotEqual(writes(5), writes(6))
        self.assertEqual(sorted(r[2] for r in writes(5)), sorted(workloads.LAKE_TABLES))
        plan, weights = workloads.lake(5)
        reads = [r[2] for r in ops(plan) if r[1] == "query"]
        self.assertEqual(len(reads), workloads.LAKE_READS)
        self.assertEqual(weights[:5], [1.0] * 5)
        self.assertAlmostEqual(sum(weights[5:]),
                               len(workloads.load_times()) * workloads.LAKE_SHARE)


class PanelTest(unittest.TestCase):
    def test_family(self):
        self.assertEqual(workloads.family("q10_returned_items"), "q")
        self.assertEqual(workloads.family("q_cube_sales"), "q")
        self.assertEqual(workloads.family("pipe_chunk"), "pipe")

    def test_allocation_is_proportional_with_one_each(self):
        self.assertEqual(workloads.allocate({"a": 12, "b": 6, "c": 2}, 10),
                         {"a": 6, "b": 3, "c": 1})
        self.assertEqual(workloads.allocate({"a": 30, "b": 1, "c": 1}, 4),
                         {"a": 2, "b": 1, "c": 1})

    def test_middle_of_each_time_stratum(self):
        got = dict(workloads.panel(TIMES, 10, exclude=()))
        # q: 12 queries in 6 strata of 2, the upper middle of each taken.
        self.assertEqual(sorted(q for q in got if q.startswith("q")),
                         sorted(f"q{i}_x" for i in (2, 4, 6, 8, 10, 12)))
        self.assertEqual(got["q2_x"], 2.0)
        self.assertEqual(sorted(q for q in got if q.startswith("ev")),
                         ["ev_2", "ev_4", "ev_6"])
        self.assertEqual(got["mm_2"], 2.0)
        self.assertAlmostEqual(sum(got.values()), len(TIMES))

    def test_excluded_queries_are_never_drawn(self):
        got = dict(workloads.panel(TIMES, 10, exclude=("q2_x",)))
        self.assertNotIn("q2_x", got)
        self.assertAlmostEqual(sum(got.values()), len(TIMES))

    def test_recorded_panels_cover_every_family(self):
        times = workloads.load_times()
        fams = {workloads.family(q) for q in times}
        for n in (workloads.REGISTRY_PANEL, workloads.LAKE_READS):
            sample = workloads.panel(times, n)
            self.assertEqual(len(sample), n)
            self.assertEqual({workloads.family(q) for q, _ in sample}, fams)
            self.assertFalse(set(workloads.WARM_QUERIES) & {q for q, _ in sample})


if __name__ == "__main__":
    unittest.main()
