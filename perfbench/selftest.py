#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic (no engine needed):

    python3 perfbench/selftest.py
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import lake  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        v, pct, n = stats.tail([float(x) for x in range(1, 101)])
        self.assertEqual((v, pct, n), (90.0, 90.0, 100))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        v, _, _ = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class Seeds(unittest.TestCase):
    def test_same_seed_same_requests(self):
        self.assertEqual(lake.api_mixed_plan(7, []), lake.api_mixed_plan(7, []))

    def test_other_seed_other_requests(self):
        a, b = lake.api_mixed_plan(7, []), lake.api_mixed_plan(8, [])
        self.assertNotEqual(a["pool"], b["pool"])
        self.assertNotEqual(a["sequence"], b["sequence"])
        self.assertNotEqual(a["quads"], b["quads"])

    def test_same_seed_same_lake_and_sources(self):
        def digest(seed):
            with tempfile.TemporaryDirectory() as d:
                lake.write_lake(seed, 0.001, d)
                files = lake.write_ingest_sources(seed, d, n_files=2)
                con = oracle.connect(d)
                rows = con.execute("SELECT sum(hash(l_orderkey, l_extendedprice, l_shipdate)) "
                                   "FROM lineitem").fetchone()
                return rows, [open(f["path"]).read() for f in files]
        self.assertEqual(digest(3), digest(3))
        self.assertNotEqual(digest(3), digest(4))

    def test_raster_aois_cover_every_tile_count(self):
        quads = [q for k, q in lake.api_mixed_plan(5, [])["quads"].items()
                 if k.startswith("aoi")]
        def span(cs):
            return int(max(cs)) - int(min(cs)) + 1
        spans = sorted((span([p[0] for p in q]), span([44 - p[1] for p in q]))
                       for q in quads)
        self.assertEqual(spans, sorted(lake.AOI_SPANS))


class FailureAccounting(unittest.TestCase):
    def ops(self, *oks):
        return [{"cls": "tabular", "key": f"r{i}", "ms": 1.0, "ok": ok}
                for i, ok in enumerate(oks)]

    def test_clean_run(self):
        self.assertEqual(stats.accounting(self.ops(True, True), set(), 0), (2, 0))

    def test_errors_and_oracle_mismatches_count(self):
        ops = self.ops(True, False, True)
        # r1 erred (one failure call); r2's answer disagrees with DuckDB
        self.assertEqual(stats.accounting(ops, {"r2"}, 1), (3, 2))

    def test_failures_outside_timed_ops_count(self):
        self.assertEqual(stats.accounting(self.ops(True), set(), 2), (1, 2))

    def test_wrong_answer_fails_the_run(self):
        res = {"loaded": {"ops": self.ops(True, True), "wall_s": 1.0, "cpu_ms": 10.0},
               "setup_s": 1.0, "mem_retained_mb": 1.0, "failed_count": 0}
        ok = stats.report("api_mixed", res, [], trace=False)
        bad = stats.report("api_mixed", res, [("r0", "row 0 differs")], trace=False)
        self.assertTrue(ok["correct"])
        self.assertEqual((bad["correct"], bad["failed"]), (False, 1))


class Names(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_metric_names_and_units(self):
        for table in (stats.END_TO_END, stats.PER_LAYER):
            for name, (unit, better) in table.items():
                self.assertRegex(name, self.NAME)
                self.assertRegex(unit, self.UNIT)
                self.assertIn(better, ("lower", "higher"))

    def test_benchmark_json_matches(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]},
                         stats.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(stats.PRIMARY))


if __name__ == "__main__":
    unittest.main()
