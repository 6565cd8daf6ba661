"""Tests of the steadiness tool's arithmetic: python3 -m unittest layerbench/test_steady.py"""
import json
import statistics
import unittest

from steady import agreement, overhead, parse_output, parse_seeds, summarize, worsening

BENCH = {"end_to_end": [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1},
    {"name": "items_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
]}


def run(set_, workload, **metrics):
    return {"set": set_, "workload": workload, "trace": 0,
            "result": {"metrics": {k: {"value": v} for k, v in metrics.items()}}}


class SteadyTest(unittest.TestCase):
    def test_parse_seeds(self):
        self.assertEqual(parse_seeds("1-3,7"), [1, 2, 3, 7])
        self.assertEqual(parse_seeds("5"), [5])

    def test_summarize_uses_statistics_quartiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.4]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        s = summarize(xs)
        self.assertEqual((s["q1"], s["q3"]), (q1, q3))
        self.assertAlmostEqual(s["spread"], (q3 - q1) / statistics.median(xs))

    def test_worsening_follows_direction(self):
        self.assertAlmostEqual(worsening(100.0, 110.0, "lower"), 0.1)
        self.assertAlmostEqual(worsening(100.0, 110.0, "higher"), -0.1)
        self.assertAlmostEqual(worsening(100.0, 90.0, "higher"), 0.1)

    def test_agreement_flags_spread_and_shift(self):
        steady = [10.0, 10.1, 9.9, 10.0, 10.05]
        runs = [run(0, "w", op_p50_ms=v, items_per_s=v, setup_s=v) for v in steady]
        runs += [run(1, "w", op_p50_ms=v * 1.2, items_per_s=v * 1.05, setup_s=v * 1.5) for v in steady]
        rows = {r["metric"]: r for r in agreement(runs, BENCH)}
        self.assertFalse(rows["op_p50_ms"]["agree"])       # 20% slower > 10% bound
        self.assertTrue(rows["op_p50_ms"]["spread_ok"])
        self.assertTrue(rows["items_per_s"]["agree"])      # higher is better
        self.assertFalse(rows["setup_s"]["agree"])         # 50% worse > 25% bound

    def test_setup_spread_is_exempt(self):
        runs = [run(0, "w", setup_s=v) for v in (5.0, 10.0, 15.0, 20.0)]
        runs += [run(1, "w", setup_s=v) for v in (5.0, 10.0, 15.0, 20.0)]
        (row,) = agreement(runs, BENCH)
        self.assertTrue(row["spread_ok"] and row["agree"])
        runs = [dict(r, result={"metrics": {"op_p50_ms": r["result"]["metrics"]["setup_s"]}}) for r in runs]
        (row,) = agreement(runs, BENCH)
        self.assertFalse(row["spread_ok"])

    def test_traced_runs_do_not_count_for_agreement(self):
        runs = [run(0, "w", op_p50_ms=10.0), dict(run(0, "w", op_p50_ms=99.0), trace=1)]
        (row,) = agreement(runs, BENCH)
        self.assertEqual(row["sets"][0]["median"], 10.0)

    def test_parse_output_takes_last_line_as_result(self):
        record = {"workload": "w", "end_to_end": {}}
        result = {"correct": True, "attempted": 3, "failed": 0, "metrics": {}}
        out = "noise\n" + json.dumps(record) + "\n" + json.dumps(result) + "\n"
        self.assertEqual(parse_output(out), (record, result))

    def test_overhead_compares_traced_to_untraced(self):
        def rec(trace, v):
            return {"workload": "w", "trace": trace,
                    "record": {"end_to_end": {"op_p50_ms": {"value": v}, "op_p90_ms": {"value": None}}}}
        (row,) = overhead([rec(0, 100.0), rec(0, 102.0), rec(1, 110.0)])
        self.assertAlmostEqual(row["overhead"], 110.0 / 101.0 - 1)


if __name__ == "__main__":
    unittest.main()
