"""Tests of the benchmark's own rules: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 0.90), 90)
        self.assertEqual(M.percentile(xs, 0.99), 99)
        self.assertEqual(M.percentile([5.0], 0.9), 5.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(M.tail(list(range(99))))  # p90 has 9 beyond
        self.assertEqual(M.tail(list(range(1, 101))), ("p90", 90))
        self.assertEqual(M.tail(list(range(1, 1001)))[0], "p99")
        self.assertEqual(M.beyond(100, 0.9), 10)

    def test_median_even_count_averages(self):
        self.assertEqual(M.median([1, 2, 3, 10]), 2.5)


class SpanSelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0.0, "t1": 100.0},
            {"id": 1, "parent": 0, "t0": 10.0, "t1": 40.0},
            {"id": 2, "parent": 0, "t0": 30.0, "t1": 60.0},  # overlaps 1
            {"id": 3, "parent": 0, "t0": 90.0, "t1": 120.0},  # runs past parent
            {"id": 4, "parent": 1, "t0": 15.0, "t1": 20.0},
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 50 - 10)
        self.assertAlmostEqual(st[1], 30 - 5)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[4], 5)


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_union_of_jobs(self):
        jobs = [(10, 30), (20, 40), (70, 80)]
        self.assertEqual(M.driver_gap(0, 100, jobs), 100 - 30 - 10)

    def test_jobs_clipped_to_the_operation(self):
        self.assertEqual(M.driver_gap(50, 100, [(0, 60), (90, 200)]), 50 - 10 - 10)
        self.assertEqual(M.driver_gap(0, 10, []), 10)


class CycleSeconds(unittest.TestCase):
    def test_median_per_type_times_count_per_cycle(self):
        ops = [{"op": "a", "cycle": 0, "wall_ms": 100}, {"op": "a", "cycle": 0, "wall_ms": 300},
               {"op": "b", "cycle": 0, "wall_ms": 1000}, {"op": "a", "cycle": 1, "wall_ms": 200},
               {"op": "a", "cycle": 1, "wall_ms": 200}, {"op": "b", "cycle": 1, "wall_ms": 3000}]
        # a: median 200 x 2 per cycle; b: median 2000 x 1
        self.assertAlmostEqual(M.cycle_seconds(ops), (400 + 2000) / 1e3)


class FailureCounting(unittest.TestCase):
    def test_wrong_ord_count_fails(self):
        ok = {"op": "uniform_range", "expect": "12/ab", "got": "12/ab"}
        wrong = {"op": "uniform_range", "expect": "12/ab", "got": "11/cd"}
        self.assertFalse(M.op_failed(ok, {}, {}))
        self.assertTrue(M.op_failed(wrong, {}, {}))

    def test_oracle_mismatch_fails(self):
        op = {"op": "e6_minhash_lsh", "expect": "", "got": "d1"}
        self.assertFalse(M.op_failed(op, {"e6_minhash_lsh": True}, {"e6_minhash_lsh": "d1"}))
        # the oracle hash disagreed with the dumped result
        self.assertTrue(M.op_failed(op, {"e6_minhash_lsh": False}, {"e6_minhash_lsh": "d1"}))
        # a later execution whose rows differ from the oracle-checked one
        self.assertTrue(M.op_failed(op, {"e6_minhash_lsh": True}, {"e6_minhash_lsh": "d0"}))

    def test_error_or_missing_check_fails(self):
        self.assertTrue(M.op_failed({"op": "x", "error": "boom", "expect": "1", "got": "1"}, {}, {}))
        self.assertTrue(M.op_failed({"op": "x"}, {}, {}))

    def test_oracle_hash_rule(self):
        import pandas as pd
        import oracle
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
        self.assertEqual(oracle.frame_hash(a), oracle.frame_hash(a[["v", "k"]].copy()))
        self.assertNotEqual(oracle.frame_hash(a), oracle.frame_hash(
            pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})))
        self.assertNotEqual(oracle.frame_hash(a), oracle.frame_hash(a.iloc[::-1]))


class OracleCompare(unittest.TestCase):
    def test_first_result_is_compared_with_the_oracle(self):
        import tempfile
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            dump = os.path.join(d, "dump")
            os.makedirs(dump)
            duckdb.sql(f"COPY (SELECT 1::BIGINT AS k, 'a' AS v) "
                       f"TO '{dump}/part.parquet' (FORMAT parquet)")
            cache = os.path.join(d, "cache")
            ops = [{"op": "x", "got": "d1", "dump": dump}, {"op": "x", "got": "d1"}]
            r = {"oracle_sql": {"x": "SELECT 1::BIGINT AS k, 'a' AS v"},
                 "input_digest": "in1", "ops": ops}
            ok, first = run.check_keys(r, d, cache)
            self.assertEqual((ok, first), ({"x": True}, {"x": "d1"}))
            self.assertFalse(any(M.op_failed(o, ok, first) for o in ops))
            # a different oracle answer on another input fails every execution
            wrong = dict(r, oracle_sql={"x": "SELECT 2::BIGINT AS k, 'a' AS v"},
                         input_digest="in2")
            ok, first = run.check_keys(wrong, d, cache)
            self.assertEqual(ok, {"x": False})
            self.assertTrue(all(M.op_failed(o, ok, first) for o in ops))
            # the oracle hash is cached per input digest
            self.assertEqual(run.check_keys(dict(wrong, input_digest="in1"), d, cache)[0],
                             {"x": True})
            # a first result without a dump cannot be checked, so it fails
            undumped = dict(r, ops=[{"op": "x", "got": "d1"}])
            self.assertEqual(run.check_keys(undumped, d, cache)[0], {"x": False})


class FixtureGuard(unittest.TestCase):
    def test_refuses_unsafe_fixture_dirs(self):
        root = os.path.join(os.sep, "checkout")
        for bad in ("", os.path.join(root, "target", "fixtures"),
                    "/elsewhere/checkout/target/fixtures", "/srv/reference/fx"):
            with self.assertRaises(run.Refused, msg=bad):
                run.check_fixture_dir(bad, root)
        ok = os.path.join(root, ".bench_build", "perfbench", "runs", "x", "fixtures")
        self.assertEqual(run.check_fixture_dir(ok, root), os.path.realpath(ok))


if __name__ == "__main__":
    unittest.main()
