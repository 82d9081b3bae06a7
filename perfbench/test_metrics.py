"""Self-tests for the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py
"""
import json
import os
import re
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

# The names and units BENCHMARK.json may use.
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name):
    return bool(NAME.fullmatch(name))


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_the_statistics_module(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(metrics.quartiles(xs), (q[0], q[2]))
        self.assertEqual(metrics.quartiles(xs), (2.75, 8.25))

    def test_quartiles_of_one_value(self):
        self.assertEqual(metrics.quartiles([4.0]), (4.0, 4.0))


class Intervals(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(metrics.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])

    def test_union_drops_empty_intervals(self):
        self.assertEqual(metrics.union([(2, 2), (3, 1)]), [])

    def test_covered(self):
        self.assertEqual(metrics.covered([(0, 2), (1, 3), (10, 11)]), 4)

    def test_overlap(self):
        self.assertEqual(metrics.overlap([(0, 10)], [(2, 3), (5, 12)]), 6)
        self.assertEqual(metrics.overlap([(0, 1)], [(1, 2)]), 0)
        self.assertEqual(metrics.overlap([(0, 4), (6, 9)], [(3, 7)]), 2)

    def test_gap_is_window_time_no_interval_covers(self):
        self.assertEqual(metrics.gap((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(metrics.gap((0, 10), []), 10)
        self.assertEqual(metrics.gap((0, 10), [(-5, 20)]), 0)


class SelfTime(unittest.TestCase):
    def test_each_prefix_minus_the_previous(self):
        got = metrics.self_values([("read", 1.0), ("parse", 3.5), ("full", 4.0)])
        self.assertEqual(got, [("read", 1.0), ("parse", 2.5), ("full", 0.5)])

    def test_a_cheaper_longer_prefix_reads_negative(self):
        # The full query may prune columns its prefix had to produce.
        self.assertEqual(metrics.self_values([("a", 5.0), ("b", 4.0)])[1],
                         ("b", -1.0))


class Names(unittest.TestCase):
    def test_valid_names(self):
        for n in ["warm_s", "gps.parse.self_s", "9lives", "a-b.c_d"]:
            self.assertTrue(valid_name(n), n)
        for n in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"]:
            self.assertFalse(valid_name(n), n)

    def test_every_metric_name_and_unit_is_valid_and_unique(self):
        names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n, u in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertTrue(valid_name(n), n)
            self.assertTrue(UNIT.fullmatch(u), u)

    def test_benchmark_json_declares_what_the_code_reports(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)


def record(execs, tasks=(), jobs=(), triggers=()):
    lines = [{"k": "setup", "tag": "setup", "s": 1.0, "input_rows": 60},
             {"k": "end", "tag": "end", "heap_bytes": 1 << 20,
              "scratch_bytes": 2 << 20}]
    base = {"e0": 0, "e1": 0, "gc_s": 0.0, "tasks": 0, "failed_tasks": 0,
            "rows": 1, "checksum": 0, "error": None, "ok": True,
            "cache_builds": 0,
            "store_bytes": 0, "store_files": 0, "action_s": 0.0}
    lines += [dict(base, k="exec", **e) for e in execs]
    lines += [dict(k="task", shuffle_w=0, spill=0, **t) for t in tasks]
    for j in jobs:
        lines.append({"k": "job_start", "tag": j["tag"], "job": j["job"],
                      "t": j["t0"], "desc": j["desc"]})
        lines.append({"k": "job_end", "tag": j["tag"], "job": j["job"],
                      "t": j["t1"]})
    lines += [dict(k="trigger", **t) for t in triggers]
    return metrics.Run(lines)


class Derived(unittest.TestCase):
    def test_failed_executions_never_count_toward_a_time(self):
        rec = record([
            {"tag": "first", "kind": "first", "wall_s": 9.0, "cpu_s": 9.0},
            {"tag": "warm0", "kind": "warm", "wall_s": 4.0, "cpu_s": 6.0},
            {"tag": "warm1", "kind": "warm", "wall_s": 0.1, "cpu_s": 0.1,
             "ok": False},
            {"tag": "warm2", "kind": "warm", "wall_s": 5.0, "cpu_s": 7.0},
        ])
        m = metrics.end_to_end(rec)
        self.assertEqual(m["warm_s"], 4.5)
        self.assertEqual(m["cpu_s"], 6.5)
        self.assertEqual(m["rows_per_s"], 60 / 4.5)

    def test_gps_layers_from_prefixes(self):
        rec = record([
            {"tag": "first", "kind": "first", "wall_s": 9.0, "cpu_s": 9.0},
            {"tag": "warm0", "kind": "warm", "wall_s": 4.0, "cpu_s": 6.0},
            {"tag": "t0.read", "kind": "prefix.read", "wall_s": 0.5,
             "cpu_s": 0.4, "rows": 60},
            {"tag": "t0.parse", "kind": "prefix.parse", "wall_s": 2.0,
             "cpu_s": 3.0, "rows": 60},
            {"tag": "t0.assemble", "kind": "prefix.assemble", "wall_s": 5.0,
             "cpu_s": 7.0, "rows": 10},
            {"tag": "t0.full", "kind": "traced", "wall_s": 4.4, "cpu_s": 6.5,
             "rows": 7, "e0": 0, "e1": 4400},
        ], tasks=[{"tag": "t0.full", "job": 0, "t0": 100, "t1": 1100,
                   "cpu_ns": 10**9, "gc_ms": 0}])
        m = metrics.per_layer(rec, {"gated_fixes": 8})
        self.assertAlmostEqual(m["gps.parse.self_s"], 1.5)
        self.assertAlmostEqual(m["gps.parse.cpu_s"], 2.6)
        self.assertAlmostEqual(m["gps.parse.lines_per_cpu_s"], 20.0)
        self.assertAlmostEqual(m["gps.assemble.self_s"], 3.0)
        self.assertAlmostEqual(m["engine.rel.self_s"], -0.6)
        self.assertAlmostEqual(m["engine.rel.gate_pass_ratio"], 0.8)
        self.assertAlmostEqual(m["gps.assemble.sentences_per_fix"], 6.0)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 3.4)
        self.assertAlmostEqual(m["trace_overhead"], 1.1)
        self.assertEqual(m["engine.stream.triggers"], 0)

    def test_llm_buckets_and_commit_overlap(self):
        rec = record([
            {"tag": "first", "kind": "first", "wall_s": 9.0, "cpu_s": 9.0},
            {"tag": "warm0", "kind": "warm", "wall_s": 10.0, "cpu_s": 6.0},
            {"tag": "t0.full", "kind": "traced", "wall_s": 10.0, "cpu_s": 6.0,
             "e0": 0, "e1": 10000},
        ], jobs=[
            {"tag": "t0.full", "job": 1, "t0": 0, "t1": 1000,
             "desc": "online:exact#0"},
            {"tag": "t0.full", "job": 2, "t0": 1000, "t1": 3000,
             "desc": "mh:probe#0"},
            {"tag": "t0.full", "job": 3, "t0": 2500, "t1": 5000,
             "desc": "online:index#0"},
            {"tag": "t0.full", "job": 4, "t0": 4000, "t1": 4500,
             "desc": "online:exact#1"},
            {"tag": "t0.full", "job": 5, "t0": 9000, "t1": 9500,
             "desc": "online:serve"},
        ], tasks=[{"tag": "t0.full", "job": 3, "t0": 2600, "t1": 2700,
                   "cpu_ns": 5 * 10**8, "gc_ms": 0}],
           triggers=[{"tag": "t0.full", "batch": b, "t0": t0,
                      "ms": 2000, "add_batch_ms": 1500, "offsets_ms": 10,
                      "planning_ms": 5, "wal_ms": 3,
                      "state_rows_total": 0, "state_rows_updated": 0,
                      "state_commit_ms": 0, "state_memory_bytes": 0,
                      "state_stores": 0, "rows_dropped_late": 0}
                     for b, t0 in ((0, 0), (1, 2500))])
        m = metrics.per_layer(rec, {"kept_ratio": 0.9})
        self.assertAlmostEqual(m["engine.llm.exact_s"], 1.5)
        self.assertAlmostEqual(m["engine.llm.minhash_s"], 2.0)
        self.assertAlmostEqual(m["engine.llm.commit_s"], 2.5)
        self.assertAlmostEqual(m["engine.llm.commit_cpu_s"], 0.5)
        # index job [2.5, 5] runs beside the probe until 3 and exact 4-4.5
        self.assertAlmostEqual(m["engine.llm.commit_overlap_s"], 1.0)
        self.assertEqual(m["engine.llm.serve_jobs"], 1)
        self.assertEqual(m["engine.stream.triggers"], 2)
        self.assertEqual(m["engine.stream.add_batch_ms"], 3000)
        self.assertEqual(m["engine.stream.jobs_per_trigger"], 2.0)
        self.assertEqual(m["gps.parse.self_s"], 0)


if __name__ == "__main__":
    unittest.main()
