"""Tests of the benchmark's Python side: the oracle check can fail, its
canonicalisation matches tools/oracle_check.py, and BENCHMARK.json lists
what the benchmark reports.

    python3 -m unittest discover -s perfbench/tests
"""
import ast
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


def fake_result(attempted, failed):
    r = {name: 1.0 for name, _, _ in metrics.END_TO_END}
    r.update({name: 0 for name, _ in metrics.REPORTED})
    r.update(attempted=attempted, failed=failed, layers={})
    return r


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.out = os.path.join(self.tmp.name, "seq1")
        os.makedirs(os.path.join(self.out, "q_x"))
        con = duckdb.connect()
        con.execute(f"COPY (SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', NULL)) t(id, s, v)) "
                    f"TO '{self.out}/q_x/part-0.parquet' (FORMAT PARQUET)")
        con.close()
        con = duckdb.connect()
        # the same rows in another order
        self.right = {"q_x": oracle.summary(
            con, "SELECT * FROM (VALUES (2, 'b', NULL), (1, 'a', 0.5)) t(id, s, v)")}
        con.close()

    def tearDown(self):
        self.tmp.cleanup()

    def test_matching_output_passes(self):
        self.assertEqual(oracle.check_outputs([self.out], ["q_x"], self.right), [])

    def test_wrong_expected_hash_gives_failed_ops(self):
        cols, rows, _ = self.right["q_x"]
        wrong = oracle.check_outputs([self.out], ["q_x"], {"q_x": (cols, rows, "0" * 64)})
        self.assertEqual(len(wrong), 1)
        report = metrics.report(fake_result(1, len(wrong)), traced=False)
        self.assertGreater(report["end_to_end"]["failed_ops"]["value"], 0)
        self.assertFalse(report["correct"])

    def test_missing_output_fails(self):
        wrong = oracle.check_outputs([os.path.join(self.tmp.name, "none")], ["q_x"], self.right)
        self.assertEqual(len(wrong), 1)


class CanonTest(unittest.TestCase):
    def test_same_canonicalisation_as_oracle_check(self):
        path = os.path.join(ROOT, "tools", "oracle_check.py")
        if not os.path.exists(path):
            self.skipTest("tools/oracle_check.py is not in this checkout")
        with open(path) as f:
            tree = ast.parse(f.read())
        defs = [n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name in ("canon", "table_hash")]
        ns = {"hashlib": hashlib}
        exec(compile(ast.Module(body=defs, type_ignores=[]), path, "exec"), ns)
        cols = ["b", "a", "c"]
        rows = [(1.0 / 3, None, [1, 2.5]), (True, b"\x01", {"k": 2, "j": None}), ("x", 7, [])]
        self.assertEqual(oracle.table_hash(cols, rows), ns["table_hash"](cols, rows))


class TracedReportTest(unittest.TestCase):
    def test_reports_every_per_layer_metric(self):
        r = fake_result(1, 0)
        r["layers"] = {name: 1.0 for name, _, _ in metrics.PER_LAYER}
        report = metrics.report(r, traced=True)
        self.assertEqual(list(report["metrics"]), [name for name, _, _ in metrics.PER_LAYER])

    def test_missing_layer_metric_is_an_error(self):
        r = fake_result(1, 0)
        r["layers"] = {name: 1.0 for name, _, _ in metrics.EXTRACT_LAYERS}
        with self.assertRaises(ValueError):
            metrics.report(r, traced=True)


class BenchmarkJsonTest(unittest.TestCase):
    def test_lists_what_the_benchmark_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         list(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
