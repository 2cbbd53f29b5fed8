"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The listener test builds the program and starts a JVM; it is skipped
when sbt or SPARK_HOME is missing.
"""
import datetime
import math
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fingerprint  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(46)))[0], 75)   # 11.5 beyond p75, 4.6 beyond p90
        self.assertEqual(stats.tail(list(range(100)))[0], 90)  # exactly 10 beyond p90
        self.assertEqual(stats.tail(list(range(99)))[0], 75)
        self.assertEqual(stats.tail(list(range(200)))[0], 95)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99)
        self.assertEqual(stats.tail(list(range(20)))[0], 50)

    def test_too_few_samples_report_no_tail_but_the_count(self):
        self.assertEqual(stats.tail([5.0] * 19), (None, None, 19))

    def test_nearest_rank(self):
        xs = [float(x) for x in range(1, 101)]
        self.assertEqual(stats.percentile(xs, 90), 90.0)
        self.assertEqual(stats.percentile(xs, 50), 50.0)
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        p, v, n = stats.tail(list(reversed(xs)))
        self.assertEqual((p, v, n), (90, 90.0, 100))


class Canonicalization(unittest.TestCase):
    def test_values(self):
        self.assertEqual(fingerprint.canon(None), "NULL")
        self.assertEqual(fingerprint.canon(float("nan")), "NaN")
        self.assertEqual(fingerprint.canon(1.23456), "1.2346")
        self.assertEqual(fingerprint.canon(2.0), "2.0000")
        self.assertEqual(fingerprint.canon(7), "7")
        self.assertEqual(fingerprint.canon(True), "true")
        self.assertEqual(fingerprint.canon(datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
                         "2024-01-02 03:04:05.000006")
        self.assertEqual(fingerprint.canon(datetime.date(2024, 1, 2)), "2024-01-02")

    def test_negative_zero_is_strict(self):
        self.assertEqual(fingerprint.canon(-0.0), "-0.0000")
        self.assertEqual(fingerprint.canon(0.0), "0.0000")
        self.assertNotEqual(fingerprint.fingerprint(["x"], [(-0.0,)])["hash"],
                            fingerprint.fingerprint(["x"], [(0.0,)])["hash"])
        # a tiny negative residue keeps its sign too
        self.assertEqual(fingerprint.canon(-1e-9), "-0.0000")

    def test_pandas_null_timestamp(self):
        import pandas as pd
        self.assertEqual(fingerprint.canon(pd.NaT), "NULL")

    def test_columns_sorted_by_name_and_rows_unordered(self):
        a = fingerprint.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = fingerprint.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a["columns"], ["a", "b"])
        self.assertEqual(a["rows"], 2)

    def test_four_decimals_decide_equality(self):
        self.assertEqual(fingerprint.fingerprint(["v"], [(1.00001,)]),
                         fingerprint.fingerprint(["v"], [(1.00004,)]))
        self.assertNotEqual(fingerprint.fingerprint(["v"], [(1.0001,)]),
                            fingerprint.fingerprint(["v"], [(1.0002,)]))
        self.assertNotEqual(fingerprint.fingerprint(["v"], [(None,)]),
                            fingerprint.fingerprint(["v"], [(math.nan,)]))


class SeedDeterminism(unittest.TestCase):
    OPS = [f"q{i:02d}" for i in range(1, 47)]

    def test_same_seed_same_order(self):
        self.assertEqual(run.plan(self.OPS, 7, "interactive_q"),
                         run.plan(self.OPS, 7, "interactive_q"))

    def test_seed_changes_the_order_and_every_pass_is_a_permutation(self):
        a = run.plan(self.OPS, 1, "interactive_q")
        b = run.plan(self.OPS, 2, "interactive_q")
        self.assertNotEqual(a[0], b[0])
        self.assertNotEqual(a[0], a[1])
        for order in a + b:
            self.assertEqual(sorted(order), self.OPS)

    def test_repeated_ops_run_back_to_back(self):
        ops = ["x165", "x126", "cdc_apply"]
        for order in run.plan(ops, 3, "heavy_mix"):
            self.assertEqual(sorted(order), sorted(["x165"] * 3 + ["x126"] * 3 + ["cdc_apply"] * 2))
            runs = [order[0]] + [b for a, b in zip(order, order[1:]) if a != b]
            self.assertEqual(sorted(runs), sorted(ops))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "start_ns": 0, "end_ns": 10_000_000},
            {"id": 2, "parent": 1, "name": "a", "start_ns": 1_000_000, "end_ns": 4_000_000},
            {"id": 3, "parent": 1, "name": "a", "start_ns": 3_000_000, "end_ns": 5_000_000},
        ]
        t = stats.self_times(spans)
        self.assertEqual(t["op"], (1, 10.0, 6.0))
        self.assertEqual(t["a"], (2, 5.0, 5.0))


@unittest.skipUnless(os.environ.get("SPARK_HOME") and shutil.which("sbt"), "needs sbt and Spark")
class ListenerStageCount(unittest.TestCase):
    def test_two_stage_probe_counts_two_stages(self):
        os.makedirs(run.WORK, exist_ok=True)
        run.build()
        log = os.path.join(run.WORK, "probe.log")
        run.jvm(["perfbench.Main", "--probe", os.path.join(run.WORK, "probe")], log, 170)
        with open(log) as f:
            line = [x for x in f.read().splitlines() if x.startswith("stages=")][-1]
        self.assertEqual(set(line[len("stages="):].split(",")), {"2"})


if __name__ == "__main__":
    unittest.main()
