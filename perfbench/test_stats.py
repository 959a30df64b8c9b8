"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def span(sid, parent, name, start, end, section="traced"):
    return {"id": sid, "parent": parent, "name": name, "section": section,
            "start_ms": start, "end_ms": end}


def op(kind, ms, ok=True, section="timed", pass_=0, **notes):
    return dict(kind=kind, ms=ms if ok else None, ok=ok, section=section, **{"pass": pass_}, **notes)


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(9999), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summary_reports_median_tail_and_count(self):
        s = stats.summarize(list(range(1000, 0, -1)))
        self.assertEqual((s["n"], s["p50"], s["tail_p"], s["tail"]), (1000, 500.5, 99.0, 990))
        self.assertEqual(sum(1 for x in range(1, 1001) if x > s["tail"]), 10)

    def test_too_few_samples_have_no_tail(self):
        s = stats.summarize([3.0, 1.0, 2.0])
        self.assertEqual((s["p50"], s["tail"]), (2.0, None))

    def test_labels(self):
        self.assertEqual(stats.percentile_label(99.0), "p99")
        self.assertEqual(stats.percentile_label(99.9), "p99_9")


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [span(1, 0, "op.convert", 0, 100),
                 span(2, 1, "graph.build", 10, 40),
                 span(3, 1, "graph.dictionary", 30, 60),
                 span(4, 1, "tables.commit", 90, 120),
                 span(5, 2, "ingest.extract", 12, 20)]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 22, 3: 30, 4: 30, 5: 8})
        self.assertEqual(stats.layer_self_ms(spans),
                         {"op": 40, "graph": 52, "tables": 30, "ingest": 8})

    def test_layer_self_time_counts_only_the_traced_section(self):
        rec = {"workload": "batch", "counts": {}, "jobs": [], "stages": [], "ops": [],
               "sizes": {"edges": 10, "docs": 10, "pagerank_supersteps": 5},
               "setup": {"prepare_s": [1.0], "session_s": 2.0},
               "spans": [span(1, 0, "ingest.generate", 0, 500, section="setup"),
                         span(2, 0, "algo.pagerank", 600, 1100),
                         span(3, 2, "state.commit", 700, 800)]}
        layer = stats.per_layer(rec)
        self.assertEqual((layer["ingest.self_s"], layer["algo.self_s"], layer["state.self_s"]),
                         (0.0, 0.4, 0.1))

    def test_interval_union(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(stats.union_length([]), 0)


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_union_of_stage_busy_time(self):
        stages = [(5, 20), (15, 30), (50, 60), (95, 110), (-10, -5)]
        self.assertEqual(stats.driver_gap(0, 100, stages), 60)

    def test_no_stages_means_all_driver(self):
        self.assertEqual(stats.driver_gap(10, 35, []), 25)

    def test_gap_of_span_from_trace(self):
        rec = {"spans": [span(1, 0, "algo.bfs", 0, 100)], "jobs": [],
               "stages": [{"submit_ms": 10, "complete_ms": 70, "span": 1, "job": 0,
                           "task_ms": [5, 5, 30], "shuffle_write_bytes": 0,
                           "disk_spill_bytes": 0}]}
        t = stats.Trace(rec)
        self.assertEqual(t.gap_ms(rec["spans"][0]), 40)
        self.assertEqual(t.task_skew(rec["spans"][0]), 6.0)


class FailedOps(unittest.TestCase):
    def test_failed_ops_and_checks_are_counted_and_untimed(self):
        ops = [op("route", 1.0), op("route", 2.0), op("route", 50.0, ok=False),
               op("route_dist", 900.0)]
        checks = [{"name": "a", "ok": True}, {"name": "b", "ok": False}]
        self.assertEqual(stats.op_accounting(ops, checks), (6, 2))
        self.assertEqual(stats.ok_ms(ops, "route", "timed"), [1.0, 2.0])

    def test_a_pass_with_a_failed_op_has_no_wall(self):
        ops = [op("exact", 10.0, pass_=0), op("keep", 5.0, pass_=0),
               op("exact", 12.0, pass_=1), op("keep", 0.0, ok=False, pass_=1)]
        self.assertEqual(stats.pass_ms(ops, "timed"), [15.0])

    def test_pass_walls_of_some_kinds_skip_only_their_failures(self):
        ops = [op("pagerank", 10.0, pass_=0), op("exact", 1.0, pass_=0),
               op("pagerank", 20.0, pass_=1), op("exact", 0.0, ok=False, pass_=1),
               op("pagerank", 0.0, ok=False, pass_=2), op("exact", 3.0, pass_=2),
               op("pagerank", 99.0, pass_=3, section="warmup")]
        self.assertEqual(stats.pass_ms(ops, "timed", ("pagerank",)), [10.0, 20.0])
        self.assertEqual(stats.pass_ms(ops, "timed"), [11.0])

    def test_precision_counts_the_failed_op_that_reported_a_bad_pair(self):
        rec = {"workload": "batch", "counts": {}, "spans": [], "jobs": [], "stages": [],
               "sizes": {"edges": 10, "docs": 10, "pagerank_supersteps": 5},
               "setup": {"prepare_s": [1.0], "session_s": 2.0},
               "ops": [op("lsh_pairs", 1.0, section="traced", reported_pairs=4, verified_pairs=4,
                          planted=2, planted_found=2),
                       op("lsh_pairs", 1.0, ok=False, section="traced", reported_pairs=4,
                          verified_pairs=2, planted=2, planted_found=1)]}
        layer = stats.per_layer(rec)
        self.assertEqual(layer["pipeline.precision"], 0.75)
        self.assertEqual(layer["pipeline.planted_recall"], 0.75)


class SteadySteps(unittest.TestCase):
    def test_first_superstep_of_each_run_is_dropped(self):
        ops = [op("pagerank", 10.0, steps_ms=[900.0, 400.0, 420.0]),
               op("pagerank", 10.0, steps_ms=[800.0, 410.0]),
               op("pagerank", 0.0, ok=False, steps_ms=[1.0, 1.0])]
        self.assertEqual(stats.steady_steps(ops, "pagerank", "timed"), [400.0, 420.0, 410.0])


class BenchmarkFile(unittest.TestCase):
    def test_declared_metrics_are_the_reported_ones(self):
        with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        rec = {"workload": "links", "sizes": {"pages": 10}, "setup": {"prepare_s": [1.0],
               "session_s": 2.0}, "ops": [op("convert", 100.0), op("route", 1.0)]}
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         {k: u for k, (_, u) in stats.end_to_end(rec, "timed").items()})
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         list(stats.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
