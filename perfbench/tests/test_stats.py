"""Unit tests of the benchmark's arithmetic and of BENCHMARK.json's
agreement with what the runner reports.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class MedianQuartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.5, 6.0, 5.5, 3.5]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(xs)[1], stats.median(xs))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_even_count_median_is_midpoint(self):
        self.assertEqual(stats.median([1, 2, 3, 10]), 2.5)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 10)]), 8)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_ignores_empty(self):
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_clip_to_span(self):
        self.assertEqual(stats.clip([(0, 5), (8, 20), (30, 40)], 2, 10),
                         [(2, 5), (8, 10)])

    def test_self_time_with_overlapping_children(self):
        # children cover [10,40) and [50,60) of the span [0,100)
        self.assertEqual(stats.self_time(0, 100,
                                         [(10, 30), (20, 40), (50, 60)]), 60)

    def test_self_time_clips_children_outside_span(self):
        self.assertEqual(stats.self_time(10, 20, [(0, 15), (18, 30)]), 3)


def fake_trace():
    """One flow span (id 0) with two module spans (1, 2) and a leg (3).

    Span 1 runs jobs 10 and 11 concurrently; span 2 runs job 12, whose
    call site is the materialization helper; the leg runs job 13."""
    spans = [
        dict(id=0, name="flow", parent=-1, iter=1, start=0, end=1000),
        dict(id=1, name="SpecPipeline.ingestValidation", parent=0, iter=1,
             start=0, end=400),
        dict(id=2, name="sinks.writeJsonl", parent=0, iter=1,
             start=500, end=900),
        dict(id=3, name="ReleaseBuild.runOn", parent=-1, iter=-1,
             start=2000, end=2100),
    ]
    jobs = [
        dict(id=10, group="1", site="parquet at X.scala:1", start=0, end=300),
        dict(id=11, group="1", site="run at Y.scala:2", start=100, end=350),
        dict(id=12, group="2", site="localCheckpoint at Materialize.scala:79",
             start=550, end=700),
        dict(id=13, group="3", site="save at Z.scala:3", start=2000,
             end=2050),
    ]
    tasks = [
        dict(job=10, group="1", launch=10, finish=200, cpu_ns=150_000_000,
             shuffle_bytes=1_000_000),
        dict(job=11, group="1", launch=150, finish=340, cpu_ns=100_000_000,
             shuffle_bytes=0),
        dict(job=12, group="2", launch=560, finish=690, cpu_ns=120_000_000,
             shuffle_bytes=500_000),
        dict(job=13, group="3", launch=2000, finish=2040, cpu_ns=40_000_000,
             shuffle_bytes=0),
    ]
    return dict(spans=spans, jobs=jobs, tasks=tasks)


class SpanAttribution(unittest.TestCase):
    def test_span_measures_follow_job_groups(self):
        t = stats.Trace(fake_trace())
        m = t.measures(1)
        self.assertEqual(m["jobs"], 2)
        self.assertEqual(m["tasks"], 2)
        self.assertAlmostEqual(m["cpu_s"], 0.25)
        self.assertAlmostEqual(m["shuffle_mb"], 1.0)
        # tasks cover [10,340) of [0,400)
        self.assertAlmostEqual(m["idle_s"], 0.07)

    def test_parent_span_includes_descendants(self):
        t = stats.Trace(fake_trace())
        m = t.measures(0)
        self.assertEqual((m["jobs"], m["tasks"]), (3, 3))
        self.assertAlmostEqual(m["wall_s"], 1.0)
        # tasks cover [10,340) and [560,690): 460 ms busy of 1000
        self.assertAlmostEqual(m["idle_s"], 0.54)

    def test_self_time_subtracts_child_spans(self):
        t = stats.Trace(fake_trace())
        self.assertAlmostEqual(t.self_s(0), 0.2)
        # span 1's own jobs overlap: [0,350) of [0,400)
        self.assertAlmostEqual(t.self_s(1), 0.05)

    def test_call_site_attribution(self):
        t = stats.Trace(fake_trace())
        self.assertEqual([j["id"] for j in t.site_jobs(0, "Materialize.scala")],
                         [12])

    def test_per_layer_reports_every_name(self):
        iterations = [dict(traced=False, wall_s=1.2), dict(traced=True,
                                                         wall_s=1.0)]
        out = stats.per_layer(fake_trace(), iterations,
                              {"SpecPipeline.valid_ratio": 0.75})
        self.assertEqual(set(out), {n for n, _, _ in stats.per_layer_names()})
        self.assertEqual(out["Materialize.jobs"], 1)
        self.assertAlmostEqual(out["Materialize.wall_s"], 0.15)
        self.assertAlmostEqual(out["spark.tasks_per_job"], 1.0)
        self.assertAlmostEqual(out["trace.overhead_s"], -0.2)
        self.assertEqual(out["SpecPipeline.valid_ratio"], 0.75)
        self.assertEqual(out["ReleaseBuild.runOn.jobs"], 1)
        # a layer the run never called reports 0
        self.assertEqual(out["DailyIngest.runDelta.wall_s"], 0.0)


class BenchmarkDefinition(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_per_layer_matches_the_runner(self):
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in self.spec["per_layer"]],
                         stats.per_layer_names())

    def test_end_to_end_names(self):
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]],
                         ["setup_s", "flow_s", "cpu_s", "rows_per_s",
                          "live_heap_mb"])
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


if __name__ == "__main__":
    unittest.main()
