"""The benchmark's own tests: tail selection, bound checks, metric names,
result-line parsing, and BENCHMARK.json agreeing with the metric tables.

    python3 -m unittest discover -s lakebench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import report  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        values = list(range(1, 201))  # 200 samples
        p, v = metrics.tail(values)
        self.assertEqual(p, 95.0)  # 10 samples above p95, 2 above p99
        self.assertEqual(v, 190)

    def test_exactly_ten_beyond_qualifies(self):
        p, _ = metrics.tail(list(range(100)))
        self.assertEqual(p, 90.0)

    def test_small_sample_falls_back_to_median(self):
        p, v = metrics.tail([5.0, 1.0, 3.0])
        self.assertEqual((p, v), (50.0, 3.0))

    def test_order_does_not_matter(self):
        a = [float(x) for x in range(60)]
        self.assertEqual(metrics.tail(a), metrics.tail(list(reversed(a))))

    def test_nearest_rank_quantile(self):
        self.assertEqual(metrics.quantile([10, 20, 30, 40], 50), 20)
        self.assertEqual(metrics.quantile([10, 20, 30, 40], 100), 40)


class BalancedTest(unittest.TestCase):
    def op(self, c, k, t0, t1):
        return {"c": c, "k": k, "t0": t0, "t1": t1}

    def test_kind_p50_weighs_kinds_not_counts(self):
        ops = [self.op(0, "read", 0, 100)] * 9 + [self.op(1, "dml", 0, 400)]
        self.assertAlmostEqual(metrics.kind_p50(ops), 200.0)

    def test_client_rate_of_one_closed_loop_client(self):
        ops = [self.op(0, "step", 0, 500), self.op(0, "step", 500, 2000)]
        self.assertAlmostEqual(metrics.client_rate(ops), 1.0)

    def test_client_rate_weighs_kinds_equally(self):
        ops = [self.op(0, "cheap", 0, 100)] * 5 + [self.op(0, "heavy", 0, 1900)]
        self.assertAlmostEqual(metrics.client_rate(ops), 1.0)

    def test_client_rate_weighs_clients_equally(self):
        fast = [self.op(0, "read", i * 100, (i + 1) * 100) for i in range(40)]
        slow = [self.op(1, "dml", 0, 4000)]
        # 10/s and 0.25/s: geometric mean 1.58/s, times two clients
        self.assertAlmostEqual(metrics.client_rate(fast + slow), 2 * (10 * 0.25) ** 0.5)


class BoundTest(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertAlmostEqual(metrics.worse_by("lower", 100.0, 110.0), 0.1)
        self.assertTrue(metrics.within_bound("lower", 0.1, [100, 100, 100], [105, 110, 109]))
        self.assertFalse(metrics.within_bound("lower", 0.1, [100, 100, 100], [111, 112, 113]))

    def test_higher_is_better(self):
        self.assertAlmostEqual(metrics.worse_by("higher", 10.0, 9.0), 0.1)
        self.assertTrue(metrics.within_bound("higher", 0.1, [10, 10], [9.5, 9.5]))
        self.assertFalse(metrics.within_bound("higher", 0.1, [10, 10], [8.0, 8.5]))

    def test_improvement_is_negative(self):
        self.assertLess(metrics.worse_by("lower", 100.0, 90.0), 0)

    def test_spread_is_iqr_over_median(self):
        values = [90, 95, 100, 105, 110, 100, 100, 98, 102, 100]
        self.assertAlmostEqual(metrics.spread(values), 0.055, places=4)


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("p50_ms", "spark.task_cpu_ms", "commitlog.jobs_per_commit",
                  "a-b", "9lives"):
            self.assertTrue(metrics.valid_name(n), n)

    def test_invalid_names(self):
        for n in ("", "_x", ".x", "p50 ms", "p50/ms", "x" * 65, "é"):
            self.assertFalse(metrics.valid_name(n), n)

    def test_units(self):
        for u in ("ms", "s", "1/s", "count", "%", "MB"):
            self.assertTrue(metrics.valid_unit(u), u)
        self.assertFalse(metrics.valid_unit("milli seconds"))

    def test_tables_use_valid_unique_names(self):
        names = [m[0] for m in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit, *_ in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertTrue(metrics.valid_name(name), name)
            self.assertTrue(metrics.valid_unit(unit), unit)


class ResultLineTest(unittest.TestCase):
    def values(self, table):
        return {m[0]: 1.25 for m in table}

    def test_round_trip(self):
        line = metrics.result_line(True, 40, 0, self.values(metrics.END_TO_END),
                                   metrics.END_TO_END)
        r = metrics.parse_result("log line\n" + line + "\n")
        self.assertTrue(r["correct"])
        self.assertEqual(r["attempted"], 40)
        self.assertEqual([m[0] for m in metrics.END_TO_END], list(r["metrics"]))
        self.assertEqual(r["metrics"]["p50_ms"], {"value": 1.25, "unit": "ms"})

    def test_last_line_must_be_the_result(self):
        line = metrics.result_line(True, 1, 0, self.values(metrics.END_TO_END),
                                   metrics.END_TO_END)
        with self.assertRaises(ValueError):
            metrics.parse_result(line + "\ntrailing text")

    def test_rejects_missing_or_extra_keys(self):
        with self.assertRaises(ValueError):
            metrics.parse_result(json.dumps({"correct": True, "attempted": 1, "metrics": {}}))
        with self.assertRaises(ValueError):
            metrics.parse_result(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                                             "metrics": {}, "extra": 1}))

    def test_rejects_bad_counts_and_metrics(self):
        base = {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}
        for bad in ({**base, "attempted": 0}, {**base, "attempted": 1.5},
                    {**base, "failed": -1},
                    {**base, "metrics": {"p 50": {"value": 1, "unit": "ms"}}},
                    {**base, "metrics": {"p50": {"value": "1", "unit": "ms"}}},
                    {**base, "metrics": {"p50": {"value": 1}}}):
            with self.assertRaises(ValueError):
                metrics.parse_result(json.dumps(bad))


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_matches_metric_tables(self):
        with open(BENCHMARK) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         [tuple(m) for m in metrics.END_TO_END])
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         [tuple(m) for m in metrics.PER_LAYER])
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertTrue(all(0 < x <= 0.25 for x in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        for w in b["workloads"]:
            self.assertTrue(metrics.valid_name(w["name"]))
            self.assertLessEqual(len(w["why"]), 200)


class LayerMetricTest(unittest.TestCase):
    def span(self, id_, parent, name, op, start, end, **counts):
        c = {k: 0 for k in ("jobs", "stages", "tasks", "task_cpu_ns", "task_run_ms",
                            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                            "input_bytes", "output_bytes", "gc_ms")}
        c.update(counts)
        return {"id": id_, "parent": parent, "name": name, "op": op, "start_ms": start,
                "end_ms": end, "idle_ms": 0, "counts": c, "attrs": {}}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, "op", 0, 0, 100, jobs=3),
                 self.span(2, 1, "tools.wire", 0, 10, 90, jobs=3)]
        t = report.self_table(spans)
        self.assertEqual(t["op"]["self_ms"], 20)
        self.assertEqual(t["op"]["jobs"], 0)
        self.assertEqual(t["tools.wire"]["self_ms"], 80)

    def test_every_per_layer_metric_is_reported(self):
        spans = [self.span(1, 0, "op", 0, 0, 100, jobs=2),
                 self.span(2, 1, "tools.wire", 0, 0, 100),
                 self.span(3, 0, "inproc", 0, 100, 160)]
        res = {"ops": [{"k": "sql", "t0": 0, "t1": 100, "ok": True}], "untraced_ms": [90.0]}
        m = report.layer_metrics(spans, res, "lake-sql", 0)
        self.assertEqual(set(m), {x[0] for x in metrics.PER_LAYER})
        self.assertEqual(m["tools.wire_ms"], 40)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["trace.overhead_ms"], 10)


if __name__ == "__main__":
    unittest.main()
