"""Tests of the benchmark's own arithmetic and declarations.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import re
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
DECLARED = json.loads((run.ROOT / "BENCHMARK.json").read_text())
EMPTY_RUN = {"traced_iteration_s": [1.0], "untraced_iteration_s": [1.0]}


def span(i, parent, name, start, end, run_id="it1", counters=None, attrs=None):
    return {"run": run_id, "id": i, "parent": parent, "name": name, "start_ns": start,
            "end_ns": end, "counters": counters or {}, "attrs": attrs or {}}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(run.self_time_ns(span(0, None, "a", 10, 110), []), 100)

    def test_disjoint_children(self):
        kids = [span(1, 0, "b", 10, 30), span(2, 0, "c", 50, 60)]
        self.assertEqual(run.self_time_ns(span(0, None, "a", 0, 100), kids), 70)

    def test_overlapping_children_count_once(self):
        kids = [span(1, 0, "b", 10, 30), span(2, 0, "c", 20, 50)]
        self.assertEqual(run.self_time_ns(span(0, None, "a", 0, 100), kids), 60)

    def test_children_clipped_to_parent(self):
        kids = [span(1, 0, "b", -20, 10), span(2, 0, "c", 90, 130)]
        self.assertEqual(run.self_time_ns(span(0, None, "a", 0, 100), kids), 80)

    def test_only_direct_children_subtract(self):
        spans = [span(0, None, "iteration", 0, 1000), span(1, 0, "ingest", 100, 600),
                 span(2, 1, "lineage.commit", 200, 500)]
        t = run.Trace(spans)
        self.assertAlmostEqual(t.self_s("iteration"), 500 / 1e9)
        self.assertAlmostEqual(t.self_s("ingest"), 200 / 1e9)
        self.assertAlmostEqual(t.self_s("lineage.commit"), 300 / 1e9)

    def test_subtree_sums_descendants(self):
        spans = [span(0, None, "hier", 0, 10, counters={"jobs": 1}),
                 span(1, 0, "hier.build", 0, 5, counters={"jobs": 2}),
                 span(2, 0, "hier.stats", 5, 10, counters={"jobs": 27})]
        self.assertEqual(run.Trace(spans).subtree("hier", "jobs"), 30)


class PerLayer(unittest.TestCase):
    def test_bypassed_layers_read_zero_and_medians_are_per_iteration(self):
        spans = []
        for k, dur in enumerate((300, 100, 200)):
            base = 10_000 * k
            spans += [span(10 * k, None, "iteration", base, base + 1000, f"it{k}",
                           attrs={"gc_ms": 5}),
                      span(10 * k + 1, 10 * k, "lineage.audit", base, base + dur, f"it{k}")]
        res = {"traced_iteration_s": [2.0, 3.0], "untraced_iteration_s": [1.5, 2.5]}
        out = run.per_layer(spans, res, cores=4)
        self.assertAlmostEqual(out["lineage.audit_s"][0], 200 / 1e9)
        self.assertEqual(out["text.jaccard_s"][0], 0.0)
        self.assertAlmostEqual(out["gc_s"][0], 0.005)
        self.assertAlmostEqual(out["trace.overhead_s"][0], 0.5)


class Percentiles(unittest.TestCase):
    def test_high_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(run.high_percentile(10))
        self.assertIsNone(run.high_percentile(20))
        self.assertEqual(run.high_percentile(21), 52)
        self.assertEqual(run.high_percentile(100), 90)

    def test_slow_tail_side(self):
        xs = list(range(1, 101))
        self.assertGreater(run.summary(xs, "lower")["tail"], 50)
        self.assertLess(run.summary(xs, "higher")["tail"], 50)


class Declarations(unittest.TestCase):
    def test_emitted_names_are_well_formed(self):
        names = list(run.END_TO_END_UNITS) + list(run.per_layer([], EMPTY_RUN, 4)) + list(run.WORKLOADS)
        for spec in run.WORKLOADS.values():
            names += [n for n, _, _ in spec["named"]] + list(spec["slots"].values())
        for n in names:
            self.assertIsNotNone(NAME.fullmatch(n), n)

    def test_end_to_end_metrics_are_declared(self):
        declared = {m["name"]: m["unit"] for m in DECLARED["end_to_end"]}
        self.assertEqual(declared, run.END_TO_END_UNITS)
        for spec in run.WORKLOADS.values():
            self.assertEqual(set(spec["slots"]) | {"setup_s", "iteration_s"}, set(declared))

    def test_per_layer_metrics_are_declared(self):
        out = run.per_layer([], EMPTY_RUN, 4)
        declared = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
        self.assertEqual(declared, {k: u for k, (_, u) in out.items()})

    def test_workloads_are_declared(self):
        self.assertEqual({w["name"] for w in DECLARED["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
