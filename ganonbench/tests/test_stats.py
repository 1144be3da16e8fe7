"""Self-tests of the benchmark's own arithmetic and metric definitions.

Run from the repository root: python3 -m unittest discover -s ganonbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import stats  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start_s": start,
            "end_s": end, "gc_s": 0.0}


def raw(cycles, spans=(), trace=False):
    return {"setup_s": [3.0, 1.0, 2.0], "cycles": cycles, "layer": {},
            "bounds": {"hll": 80.0, "bloom_fpr": 9.0}, "retained_heap_mb": 150.0,
            "attempted": 10, "failed": sum(1 for c in cycles if not c["ok"]),
            "failures": [], "spans": list(spans), "span_tasks": {}}


class MetricNames(unittest.TestCase):
    def test_names_and_units_are_well_formed(self):
        for name, unit, better in stats.END_TO_END + stats.PER_LAYER:
            self.assertRegex(name, stats.NAME_RE)
            self.assertRegex(unit, stats.UNIT_RE)
            self.assertIn(better, ("lower", "higher"))

    def test_names_are_unique(self):
        names = [n for n, _, _ in stats.END_TO_END + stats.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_the_metrics_reported(self):
        with open(BENCHMARK_JSON) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         [tuple(m) for m in stats.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [tuple(m) for m in stats.PER_LAYER])
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))

    def test_every_metric_is_reported_in_both_modes(self):
        cycle = {"ok": True, "stages": {"build": 1.0}, "counts": {}}
        r = raw([cycle])
        e2e = stats.summarize(r, trace=False)["metrics"]
        self.assertEqual(set(e2e), {n for n, _, _ in stats.END_TO_END})
        layer = stats.summarize(r, trace=True)["metrics"]
        self.assertEqual(set(layer), {n for n, _, _ in stats.PER_LAYER})
        for name, m in {**e2e, **layer}.items():
            self.assertEqual(m["unit"], stats.UNITS[name])


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, "cycle", -1, 0.0, 10.0),
                 span(1, "a", 0, 1.0, 3.0),
                 span(2, "b", 0, 2.0, 5.0),   # overlaps a: union 1..5
                 span(3, "c", 0, 7.0, 8.0),
                 span(4, "d", 3, 7.2, 7.5)]   # grandchild: not the cycle's child
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(selfs[3], 1.0 - 0.3)
        self.assertAlmostEqual(selfs[1], 2.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, "p", -1, 0.0, 2.0), span(1, "c", 0, 1.5, 3.0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 1.5)

    def test_warmup_and_setup_spans_are_not_measured(self):
        spans = [span(0, "setup", -1, 0, 1), span(1, "setup.corpus", 0, 0, 1),
                 span(2, "warmup", -1, 1, 2), span(3, "build", 2, 1, 2),
                 span(4, "cycle", -1, 2, 3), span(5, "build", 4, 2, 3)]
        self.assertEqual([s["id"] for s in stats.measured_spans(spans)], [4, 5])


class FailedSamples(unittest.TestCase):
    def test_failed_cycles_never_enter_timings(self):
        cycles = [{"ok": True, "stages": {"a": 1.0, "b": 1.0}, "counts": {}},
                  {"ok": False, "stages": {"a": 0.01}, "counts": {}},
                  {"ok": True, "stages": {"a": 2.0, "b": 2.0}, "counts": {}},
                  {"ok": True, "stages": {"a": 3.0, "b": 3.0}, "counts": {}}]
        r = raw(cycles)
        self.assertEqual(stats.cycle_totals(r), [2.0, 4.0, 6.0])
        out = stats.summarize(r, trace=False)
        self.assertEqual(out["metrics"]["cycle_s"]["value"], 4.0)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)

    def test_a_run_without_a_good_cycle_is_not_correct(self):
        cycles = [{"ok": False, "stages": {}, "counts": {}}]
        self.assertFalse(stats.summarize(raw(cycles), trace=False)["correct"])

    def test_setup_is_the_median_of_its_reps(self):
        cycle = {"ok": True, "stages": {"a": 1.0}, "counts": {}}
        out = stats.summarize(raw([cycle]), trace=False)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual(out["metrics"]["bound_ratio_max"]["value"], 80.0)


class Tail(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_ten_samples_beyond_the_reported_tail(self):
        for n in (11, 21, 100, 1000):
            xs = [float(x) for x in range(n)]
            p, v = stats.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > v), 10)
            self.assertAlmostEqual(p, 100.0 * (n - 10) / n)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


if __name__ == "__main__":
    unittest.main()
