import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import expected  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class BenchmarkSpecTest(unittest.TestCase):
    def test_shape(self):
        s = spec()
        self.assertEqual({"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
                         set(s))
        self.assertEqual(["python3", "perfbench/run.py"], s["command"])
        self.assertEqual(["perfbench"], s["paths"])
        self.assertTrue(1 <= s["run_seconds"] <= 60)

    def test_names_units_and_bounds(self):
        s = spec()
        names = [m["name"] for m in s["workloads"] + s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual({"name", "why"}, set(w))
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual({"name", "unit", "better", "bound"}, set(m))
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual({"name", "unit", "better"}, set(m))
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual([("s", "lower")], [(m["unit"], m["better"]) for m in setup])
        self.assertEqual(max(m["bound"] for m in s["end_to_end"]), setup[0]["bound"])

    def test_declared_metrics_are_the_reported_ones(self):
        s = spec()
        self.assertEqual(list(run.WORKLOADS), [w["name"] for w in s["workloads"]])
        self.assertEqual(set(run.END_TO_END), {m["name"] for m in s["end_to_end"]})
        self.assertEqual({k: u for k, u in run.PER_LAYER.items()},
                         {m["name"]: m["unit"] for m in s["per_layer"]})
        e2e = run.end_to_end(1.5, [{"seconds": 2.0}, {"seconds": 3.0}])
        self.assertEqual(set(run.END_TO_END), set(e2e))
        self.assertEqual({m["name"]: m["unit"] for m in s["end_to_end"]}, {k: u for k, (_, u) in e2e.items()})

    def test_per_layer_reports_every_metric_on_every_workload(self):
        result = {"layers": {"engine.jobs": 4.0, "cdc.wall_s": 10.0}, "heap_peak_mb": 100.0,
                  "calibration_before_s": 0.3, "calibration_after_s": 0.4}
        for w, op in zip(run.WORKLOADS, ("bulk", "q6_revenue_change")):
            ops = [{"name": op, "seconds": 10.0, "traced": True}]
            m = run.per_layer(w, result, {"spool_bytes": 1000}, ops, ops, 4)
            self.assertEqual(list(run.PER_LAYER), list(m))


class CanonicalFormTest(unittest.TestCase):
    """The Python half of the query digest; QueryCheck in the JVM renders the same."""

    def test_numbers(self):
        self.assertEqual("123457e-3", expected.number(123.456789))
        self.assertEqual("12e2", expected.number(1200.0))
        self.assertEqual("-5e-1", expected.number(-0.5))
        self.assertEqual("0e0", expected.number(-0.0))
        self.assertEqual("1e-7", expected.number(1e-7))

    def test_digest_ignores_row_and_column_order(self):
        a = expected.digest(["b", "a"], [(1, "x"), (2, None)])
        b = expected.digest(["a", "b"], [(None, 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(2, a[0])
        self.assertNotEqual(a, expected.digest(["a", "b"], [("x", 1)]))


if __name__ == "__main__":
    unittest.main()
