"""Unit tests for the benchmark's metric rules. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import report  # noqa: E402

UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def span(sid, parent, name, start, end, op=1):
    return [sid, parent, name, op, start, end]


def phase(samples, counters=None, spans=(), jobs=(), tasks=(), timed_s=10.0):
    return {"samples": samples, "counters": counters or {}, "spans": list(spans),
            "jobs": list(jobs), "tasks": list(tasks), "timed_s": timed_s,
            "epoch_offset_ns": 0, "attempted": 1, "failed": 0, "checks": [],
            "process": {"cpu_s": 1.0, "gc_s": 0.1, "wall_s": 1.0, "cpu_per_wall": 1.0,
                        "heap_peak_mb": 100.0, "loadavg_start": 0.0, "loadavg_end": 0.0}}


class PercentileRule(unittest.TestCase):
    def test_reported_tail_leaves_ten_samples_beyond(self):
        for n in range(1, 3000):
            p = report.tail_percentile(n)
            if p is None:
                self.assertLess(report.beyond(n, 75), 10, n)
                continue
            self.assertGreaterEqual(report.beyond(n, p), 10, n)
            higher = [c for c in report.TAIL_CANDIDATES if c > p]
            for c in higher:
                self.assertLess(report.beyond(n, c), 10, (n, c))

    def test_known_sample_counts(self):
        self.assertIsNone(report.tail_percentile(39))
        self.assertEqual(report.tail_percentile(40), 75)
        self.assertEqual(report.tail_percentile(100), 90)
        self.assertEqual(report.tail_percentile(200), 95)
        self.assertEqual(report.tail_percentile(1000), 99)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 50), 50)
        self.assertEqual(report.percentile(xs, 95), 95)
        self.assertEqual(report.percentile([7.0], 99), 7.0)

    def test_timing_reports_median_tail_and_count(self):
        m = report.timing("insert", [float(i) for i in range(1, 41)])
        self.assertEqual(set(m), {"insert_p50_ms", "insert_p75_ms"})
        self.assertEqual(m["insert_p75_ms"]["n"], 40)
        self.assertEqual(m["insert_p75_ms"]["value"], 30.0)
        self.assertEqual(set(report.timing("insert", [1.0] * 20)), {"insert_p50_ms"})


class SelfTime(unittest.TestCase):
    def test_children_union_is_subtracted(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "a", 10, 30),
                 span(3, 1, "b", 20, 50),   # overlaps a: union 10..50
                 span(4, 1, "c", 90, 120),  # sticks out: only 90..100 counts
                 span(5, 2, "a.inner", 12, 28)]
        st = report.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 16)  # grandchildren count for their parent only
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 16)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(1, 0, "op", 0, 1000), span(2, 1, "x", 100, 400),
                 span(3, 2, "y", 150, 300), span(4, 1, "z", 500, 900)]
        self.assertEqual(sum(report.self_times(spans).values()), 1000)

    def test_coverage_leaves_out_pauses(self):
        spans = [span(1, 0, "op.insert", 0, 6e9), span(2, 1, report.PAUSE, 1e9, 2e9),
                 span(3, 0, report.PAUSE, 6e9, 9e9), span(4, 0, "op.insert", 9e9, 14e9)]
        # phase clock: 14 s of wall less 1 + 3 s of pauses = 10 s
        self.assertAlmostEqual(report.coverage(spans, 10.0), 1.0)

    def test_jobs_go_to_innermost_open_span(self):
        ms = 1_000_000
        spans = [span(1, 0, "op", 0, 100 * ms), span(2, 1, "IceTable.insert", 10 * ms, 60 * ms),
                 span(3, 1, "spark.execute", 70 * ms, 95 * ms)]
        jobs = [[0, 20, 40, [0]], [1, 80, 90, [1]], [2, 65, 66, [2]]]
        self.assertEqual(report.attribute_jobs(spans, jobs, 0), {0: 2, 1: 3, 2: 1})


class Names(unittest.TestCase):
    def test_declared_names_and_units_are_valid(self):
        spec = load_spec()
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(report.valid_name(m["name"]), m["name"])
            self.assertRegex(m["unit"], UNIT_RE)
        for w in spec["workloads"]:
            self.assertTrue(report.valid_name(w["name"]), w["name"])

    def test_rejects_bad_names(self):
        for bad in ["", "_x", "a b", "x/y", "é", "a" * 65]:
            self.assertFalse(report.valid_name(bad), bad)


class OutputSchema(unittest.TestCase):
    def untraced(self):
        return phase({"insert_ms": [100.0, 120.0, 110.0], "fresh_read_ms": [50.0],
                      "ops_ms": [100.0, 120.0, 50.0, 110.0]},
                     {"insert.rows": 3000.0, "insert.bytes": 9000.0})

    def test_end_to_end_has_every_declared_metric(self):
        spec = load_spec()
        for w in [x["name"] for x in spec["workloads"]]:
            e2e = report.end_to_end(w, self.untraced(), 5.0, 0, 10)
            line = report.final_line(True, 10, 0, e2e, [m["name"] for m in spec["end_to_end"]])
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            for m in spec["end_to_end"]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
                self.assertIsInstance(line["metrics"][m["name"]]["value"], float)

    def test_per_layer_has_every_declared_metric_with_its_unit(self):
        spec = load_spec()
        ms = 1_000_000
        traced = phase({"insert_ms": [90.0], "ops_ms": [90.0]}, {"insert.commits": 1.0},
                       spans=[span(1, 0, "op.insert", 0, 100 * ms),
                              span(2, 1, "IceTable.insert", 5 * ms, 95 * ms)],
                       jobs=[[0, 10, 50, [0]]],
                       tasks=[[0, 10, 40, 5e6, 30, 1, 0, 0, 0, 1024, 2048, 10]])
        m = report.per_layer("write_mix", self.untraced(), traced)
        self.assertEqual(set(m), {x["name"] for x in spec["per_layer"]})
        for x in spec["per_layer"]:
            self.assertEqual(m[x["name"]]["unit"], x["unit"], x["name"])
        self.assertEqual(m["IceTable.insert.spark_jobs_per_commit"]["value"], 1.0)
        self.assertEqual(m["IceTable.insert.driver_ms_per_commit"]["value"], 50.0)

    def test_gated_timings_each_time_one_kind(self):
        w = {"fresh_read_ms": [50.0, 70.0], "cycle_ms": [1900.0, 2100.0, 2000.0],
             "compact_ms": [900.0], "insert_ms": [400.0]}
        self.assertEqual(report.gated("write_mix", w), ((60.0, 2), (2.0, 3)))
        q = {"query.b5_filter": [10.0, 30.0], "query.b6_group_agg": [20.0],
             "operators.exact_ms": [100.0, 300.0], "operators.minhash_ms": [1000.0],
             "operators.semantic_ms": [500.0], "operators.image_ms": [400.0]}
        # a pass sums the medians of its kinds; n counts whole passes
        self.assertEqual(report.gated("query_mix", q), ((40.0, 0), (2.1, 1)))
        full = dict(q, **{f"query.{s}": [1.0] for s in report.QUERY_SHAPES})
        self.assertEqual(report.gated("query_mix", full)[0], (11.0, 1))

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(KeyError):
            report.final_line(True, 1, 0, {}, ["setup_s"])

    def test_benchmark_json_contract(self):
        spec = load_spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        e2e = {m["name"]: m for m in spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for w in spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
