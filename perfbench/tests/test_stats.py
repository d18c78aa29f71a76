import json
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(4))
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(158), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_ten_samples_lie_beyond_the_reported_tail(self):
        for n in (20, 57, 100, 158, 1000):
            values = list(range(1, n + 1))
            p, v = stats.tail(values)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, n)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 90.0), 90)
        self.assertEqual(stats.percentile(values, 50.0), 50)
        self.assertEqual(stats.percentile([5.0], 90.0), 5.0)

    def test_too_few_samples_report_the_slowest(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0, 9.0]), (100.0, 9.0))

    def test_percentile_follows_the_samples_of_one_pass(self):
        one = [float(x) for x in range(1, 41)]
        self.assertEqual(stats.tail(one)[0], 75.0)
        self.assertEqual(stats.tail(one * 3, 40)[0], 75.0)
        self.assertEqual(stats.tail(one * 3)[0], 90.0)

    def test_end_to_end_tail_does_not_move_with_the_pass_count(self):
        ops = [float(x) for x in range(1, 41)]
        res = {"setup_start_s": [5.0, 1.0], "setup_warmup_s": [7.0, 0.5], "pass_s": [20.0],
               "pass_cpu_s": [30.0], "peak_rss_mb": 900.0, "op_ms": ops}
        one, _ = run.end_to_end(res)
        three, sample = run.end_to_end(dict(res, pass_s=[20.0] * 3, pass_cpu_s=[30.0] * 3,
                                            op_ms=ops * 3))
        self.assertEqual(sample["tail_percentile"], 75.0)
        self.assertEqual(one["op_tail_ms"], three["op_tail_ms"])
        self.assertEqual(one["setup_s"], 12.0)  # the cold, first set-up

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class MetricNames(unittest.TestCase):
    def test_name_pattern(self):
        for good in ("setup_s", "queries.rel.busy_s", "state.cc_labels_08_s", "a-b"):
            self.assertTrue(stats.valid_name(good), good)
        for bad in ("", "has space", "slash/name", "quote\"", "unié", None, "a\nb"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_declared_metrics_are_valid_and_unique(self):
        names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)

    def test_benchmark_json_matches_the_command(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         ["ledger_appends", "query_surface"])


class Pins(unittest.TestCase):
    def test_pins_from_another_core_count_stop_the_run(self):
        import tempfile
        saved = run.PINS
        with tempfile.TemporaryDirectory() as d:
            run.PINS = os.path.join(d, "pins.json")
            try:
                with open(run.PINS, "w") as f:
                    json.dump({"nproc": 3, "settings": {}, "queries": {}}, f)
                with self.assertRaises(SystemExit) as e:
                    run.load_pins(5)
                self.assertEqual(e.exception.code, 2)
                self.assertEqual(run.load_pins(3)["nproc"], 3)
            finally:
                run.PINS = saved

    def test_pinned_settings_leave_out_the_run_dirs(self):
        s = {"spark.master": "local[4]", "spark.sql.warehouse.dir": "/w", "spark.local.dir": "/l"}
        self.assertEqual(run.pinned_settings(s), {"spark.master": "local[4]"})


class Generator(unittest.TestCase):
    def test_js_rendering(self):
        self.assertEqual(gen.js_number(0.0), "0")
        self.assertEqual(gen.js_number(12.0), "12")
        self.assertEqual(gen.js_number(0.1 + 0.2), "0.30000000000000004")
        self.assertEqual(gen.trim_decimal("12.50"), "12.5")
        self.assertEqual(gen.trim_decimal("3.00"), "3")
        self.assertEqual(gen.trim_decimal("700"), "700")

    def test_same_seed_same_inputs(self):
        import tempfile
        outs = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                e = gen.export("freetrade", random.Random(7), os.path.join(d, "x"), 50, 0.1)
                with open(e.path) as f:
                    outs.append((f.read(), e.expected))
        self.assertEqual(outs[0], outs[1])
        self.assertEqual(len(outs[0][1]), 45)


if __name__ == "__main__":
    unittest.main()
