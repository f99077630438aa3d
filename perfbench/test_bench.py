#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic and generators.

    python3 perfbench/test_bench.py
"""
import importlib.util
import math
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from pb import digest, report, script, stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_highest_with_ten_beyond(self):
        self.assertIsNone(stats.highest_reportable(19))
        self.assertEqual(stats.highest_reportable(20), 50)
        self.assertEqual(stats.highest_reportable(99), 75)
        self.assertEqual(stats.highest_reportable(100), 90)
        self.assertEqual(stats.highest_reportable(199), 90)
        self.assertEqual(stats.highest_reportable(200), 95)
        self.assertEqual(stats.highest_reportable(1000), 99)

    def test_only_reportable_percentiles_printed(self):
        self.assertEqual(report.percentiles("read", list(range(19))), {})
        self.assertEqual(set(report.percentiles("write", list(range(24)))), {"write_p50_ms"})
        self.assertEqual(set(report.percentiles("read", list(range(96)))),
                         {"read_p50_ms", "read_p75_ms"})
        self.assertEqual(report.percentiles("q", list(range(1, 101)))["q_p90_ms"][0], 90)

    def test_beyond_counts_samples_above(self):
        for n in (20, 57, 100, 333):
            for p in stats.PERCENTILES:
                v = list(range(n))
                above = sum(1 for x in v if x > stats.percentile(v, p))
                self.assertEqual(above, stats.beyond(n, p))


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [("root", 0, 100), ("a", 10, 40), ("b", 20, 30), ("c", 50, 60)]
        self.assertEqual(stats.self_times(spans),
                         {"root": 60, "a": 20, "b": 10, "c": 10})

    def test_overlapping_children_charge_the_later_one(self):
        spans = [("root", 0, 100), ("x", 10, 50), ("y", 30, 70)]
        self.assertEqual(stats.self_times(spans), {"root": 40, "x": 20, "y": 40})

    def test_sums_to_union(self):
        spans = [("root", 0, 100), ("a", 0, 100), ("b", 5, 5), ("c", 90, 100)]
        t = stats.self_times(spans)
        self.assertEqual(sum(t.values()), 100)
        self.assertNotIn("b", t)  # zero-length spans own no time

    def test_mean_over_requests(self):
        reqs = {"q#1": [("query", 0, 10e6), ("build", 0, 4e6)],
                "q#2": [("query", 0, 20e6), ("build", 0, 6e6), ("late", 30e6, 40e6)]}
        selfs, wall = report.layer_self_times(reqs, ("query",))
        self.assertAlmostEqual(wall, 15.0)
        self.assertAlmostEqual(selfs["build"], 5.0)
        self.assertAlmostEqual(selfs["query"], 10.0)
        self.assertNotIn("late", selfs)  # outside its request's root span


class Digest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        a = digest.digest(["k", "v"], [(1, "a"), (2, "b")])
        b = digest.digest(["v", "k"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, digest.digest(["k", "v"], [(1, "a"), (2, "c")]))

    def test_floats_stay_bit_exact(self):
        self.assertNotEqual(digest.digest(["x"], [(0.1 + 0.2,)]),
                            digest.digest(["x"], [(0.3,)]))


class Generator(unittest.TestCase):
    def test_same_seed_same_script(self):
        self.assertEqual(script.script(7), script.script(7))
        self.assertNotEqual(script.script(7), script.script(8))

    def test_statements_unique_and_mix_fixed(self):
        rows = script.script(3)
        sqls = [r[4] for r in rows]
        self.assertEqual(len(sqls), len(set(sqls)))
        for c in range(script.CLIENTS):
            ops = [r for r in rows if r[0] == c]
            writes = [r for r in ops if r[2].startswith("write")]
            self.assertEqual(len(writes) * script.BLOCK, len(ops))
            self.assertTrue(all(r[3] == 0 for r in writes))
            reads = [r for r in ops if r[2].startswith("read")]
            for kind in ("read_corpus", "read_own"):
                self.assertEqual(2 * len(writes), sum(r[2] == kind for r in reads))
            per_node = [sum(r[3] == n for r in reads) for n in range(script.NODES)]
            self.assertLessEqual(max(per_node) - min(per_node), 1)

    def test_kinds_dealt_evenly(self):
        for seed in (1, 2, 3):
            for ops in (script.client_ops(seed, c, 40) for c in range(script.CLIENTS)):
                tpl = [sql.split()[1] for kind, _, sql in ops if kind == "read_corpus"]
                counts = [tpl.count(t) for t in set(tpl)]
                self.assertEqual(len(counts), script.TEMPLATES)
                self.assertLessEqual(max(counts) - min(counts), 1)

    def test_tables_stay_bounded(self):
        for c, ops in enumerate(script.client_ops(5, c) for c in range(script.CLIENTS)):
            live = {}
            for kind, _, sql in ops:
                if kind.startswith("write"):
                    op, key, v = report._parse_write(sql)
                    if op == "insert":
                        live[key] = v
                    else:
                        self.assertIn(key, live)
                        del live[key]
                    self.assertLessEqual(len(live), script.MAX_ROWS)

    def test_quoted_values_round_trip(self):
        self.assertEqual(report._parse_write("INSERT INTO t_c0 VALUES (4, 'c0-4-it''s')"),
                         ("insert", 4, "c0-4-it's"))
        self.assertEqual(report._parse_write("DELETE FROM t_c0 WHERE id = 12"),
                         ("delete", 12, None))


class ValueCompare(unittest.TestCase):
    def test_numbers_compare_as_numbers(self):
        self.assertTrue(report._rows_equal([[17, "a"]], [[17.0, "a"]]))
        self.assertFalse(report._rows_equal([[17, "a"]], [[17.5, "a"]]))
        self.assertFalse(report._rows_equal([[1]], [[1], [2]]))
        self.assertTrue(math.isnan(float("nan")))


class Verdicts(unittest.TestCase):
    """Outputs that could not be checked count as mismatches."""
    RUN = {"setup_s": 1.0, "setup_cpu_s": 1.0, "timed_cpu_s": 1.0, "spans": []}
    META = {"rss_peak_kb": 1024, "corpus": []}

    def test_suite_query_that_throws_is_a_mismatch(self):
        run = {**self.RUN, "digest_failures": {"q_a": "RuntimeException: x"},
               "queries": ["q_a", "q_b"], "results_dir": "/nonexistent",
               "passes": [{"traced": False, "wall_s": 1.0}], "pin_s": 1.0,
               "cache_mem_bytes": 0, "cache_disk_bytes": 0, "digest_pass_s": 1.0,
               "warm_pass_s": 1.0,
               "ops": [{"q": "q_b", "pass": 1, "traced": False, "t0": 0, "t1": 1e6,
                        "err": "IllegalStateException: y"}]}
        rep = report.suite({"run": run, "meta": self.META, "boot_s": 1.0},
                           {"q_b": {"rows": 0, "sha256": ""}})
        self.assertEqual(len([m for m in rep.mismatches if "no result" in m]), 2)

    def test_final_read_that_fails_is_a_mismatch(self):
        if importlib.util.find_spec("duckdb") is None:
            self.skipTest("duckdb not installed")
        op = {"client": 0, "idx": -1, "kind": "final", "node": 1, "phase": "final",
              "sql": "SELECT id, v FROM t_c0 ORDER BY id", "t0": 0, "t1": 1}
        run = {**self.RUN, "timed_s": 1.0, "lag": [], "script_exhausted": False,
               "disk": {k: {"bytes": 0, "files": 0} for k in ("data", "log", "snapshots")},
               "ops": [{**op, "code": 500, "body": "down"},
                       {**op, "node": 2, "code": 200, "body": '{"error": "no table"}'}]}
        rep = report.service({"run": run, "meta": self.META, "boot_s": 1.0}, HERE)
        self.assertEqual(len(rep.mismatches), 2)
        self.assertEqual(rep.failures, [])


if __name__ == "__main__":
    unittest.main()
