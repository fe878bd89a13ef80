"""Self-tests of the benchmark's own checks and tooling.

    python3 -m unittest discover -s perfbench/tests

Each result check is fed a corrupted result and must catch it; the span
tooling is fed spans and records with known answers.
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import metrics  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT i AS k, i * 1.5 AS v, 'x' || i AS s "
                         "FROM range(20) r(i)")
        self.want = "SELECT k, v, s FROM t ORDER BY k"

    def saved(self, sql):
        path = os.path.join(self.dir, "r.parquet")
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        return f"SELECT * FROM read_parquet('{path}')"

    def test_identical_result_passes_in_any_row_and_column_order(self):
        got = self.saved("SELECT s, v, k FROM t ORDER BY k DESC")
        self.assertIsNone(oracle.compare(self.con, got, self.want))

    def test_changed_value_is_caught(self):
        got = self.saved("SELECT k, CASE WHEN k = 7 THEN v + 0.01 ELSE v END AS v, s FROM t")
        self.assertIn("differ", oracle.compare(self.con, got, self.want))

    def test_missing_and_duplicated_rows_are_caught(self):
        got = self.saved("SELECT k, v, s FROM t WHERE k <> 3")
        self.assertIn("rows, expected", oracle.compare(self.con, got, self.want))
        got = self.saved("SELECT k, v, s FROM t WHERE k <> 3 UNION ALL "
                         "SELECT k, v, s FROM t WHERE k = 4")
        self.assertIn("differ", oracle.compare(self.con, got, self.want))

    def test_renamed_column_is_caught(self):
        got = self.saved("SELECT k, v AS w, s FROM t")
        self.assertIn("columns", oracle.compare(self.con, got, self.want))

    def test_row_count_only_keys_ignore_values_but_not_counts(self):
        got = self.saved("SELECT k, v + 1 AS v, s FROM t")
        self.assertIsNone(oracle.compare(self.con, got, self.want, rows_only=True))
        got = self.saved("SELECT k, v, s FROM t LIMIT 5")
        self.assertIsNotNone(oracle.compare(self.con, got, self.want, rows_only=True))


class SpanTooling(unittest.TestCase):
    def test_self_time_goes_to_the_deepest_active_layer(self):
        sp = [{"op": 1, "layer": "op", "name": "invoke", "t0": 0, "t1": 100},
              {"op": 1, "layer": "lake", "name": "append", "t0": 10, "t1": 90},
              {"op": 1, "layer": "catalyst", "name": "analysis", "t0": 20, "t1": 30},
              {"op": 1, "layer": "exec", "name": "job", "t0": 40, "t1": 70},
              {"op": 1, "layer": "catalyst", "name": "planning", "t0": 50, "t1": 50}]
        self.assertEqual(spans.self_times(sp),
                         {"op": 20, "lake": 40, "catalyst": 10, "exec": 30})

    def test_diff_names_only_metrics_beyond_their_spread(self):
        def rec(v_moved, v_noisy):
            return {"record": {"workload": "w"},
                    "per_layer": {"a.ms": {"value": v_moved}, "b.ms": {"value": v_noisy}}}
        a = [rec(10.0, x) for x in (5.0, 9.0, 6.0, 8.0)]
        b = [rec(15.0, x) for x in (7.0, 5.5, 9.0, 6.5)]
        self.assertEqual([m[0] for m in spans.diff(a, b)["w"]], ["a.ms"])

    def test_harrell_davis_is_symmetric_and_smooth_across_a_gap(self):
        self.assertAlmostEqual(metrics.hd_quantile(list(range(1, 11)), 0.5), 5.5)
        self.assertAlmostEqual(metrics.hd_quantile([7.0] * 9, 0.9), 7.0)
        even = metrics.hd_quantile([100] * 16 + [200] * 16, 0.5)
        tipped = metrics.hd_quantile([100] * 15 + [200] * 17, 0.5)
        self.assertAlmostEqual(even, 150, places=6)
        self.assertLess(tipped - even, 20)


if __name__ == "__main__":
    unittest.main()
