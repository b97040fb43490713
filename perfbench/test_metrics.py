"""Self-tests for the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def op(k, label="q:0", latency=1.0, units=1, error=None, traced=False, start_ns=0):
    return {"k": k, "label": label, "traced": traced, "start_ns": start_ns,
            "latency_s": latency, "units": units, "error": error}


def record(workload, trace):
    """A small run record shaped like the JVM's, with one traced op that
    made one call, one eager job and one materialisation."""
    ops = [op(0, traced=trace, latency=1.0), op(1, latency=1.2), op(2, latency=0.8)]
    rec = {"workload": workload, "seed": 1, "cpus": 4, "unit": "calls", "inputs": {},
           "setup_s": [9.0, 2.6], "window": {"peak_rss_mb": 1500.0, "ops": ops},
           "oracle": []}
    if trace:
        s = 10**9
        rec.update({
            "setup_spans": [{"id": 0, "parent": -1, "op": -1, "layer": "io.sinks", "name": "w",
                             "start_ns": 0, "end_ns": s, "failed": False}],
            "spans": [
                {"id": 1, "parent": -1, "op": 0, "layer": "api", "name": "call",
                 "start_ns": 0, "end_ns": s // 2, "failed": False},
                {"id": 2, "parent": -1, "op": 0, "layer": "spark", "name": "materialise",
                 "start_ns": s // 2, "end_ns": s, "failed": False}],
            "jobs": [{"id": 0, "group": "op0/1", "stages": [0]},
                     {"id": 1, "group": "op0/2", "stages": [1]}],
            "stages": [dict(id=i, submit_ms=500 + 200 * i, done_ms=600 + 200 * i, tasks=4,
                            failed_tasks=0, run_ms=300, cpu_ns=2 * 10**8, gc_ms=10,
                            busy_ms=320, shuffle_read=100, shuffle_write=100, input=1000,
                            output=0, spill=0) for i in (0, 1)],
            "pinned_peak_bytes": 1024, "extras": {"verified_pairs": 9, "candidate_pairs": 10}})
    return rec


class TailPercentileTest(unittest.TestCase):
    def test_none_when_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile([1.0] * 99))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_highest_rung_with_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(metrics.tail_percentile(xs), (90.0, 90.0))
        self.assertEqual(metrics.tail_percentile(xs * 2)[0], 95.0)
        self.assertEqual(metrics.tail_percentile(xs * 10)[0], 99.0)
        self.assertEqual(metrics.tail_percentile(xs * 100)[0], 99.9)

    def test_ten_samples_lie_beyond_the_value(self):
        xs = [float(i) for i in range(250)]
        p, v = metrics.tail_percentile(xs)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)


class FailureCountTest(unittest.TestCase):
    def test_errors_and_oracle_mismatches_both_fail(self):
        ops = [op(0), op(1, error="boom"), op(2, label="bad:1"), op(3, label="bad:1")]
        self.assertEqual(metrics.count_failures(ops), (4, 1))
        self.assertEqual(metrics.count_failures(ops, {"bad:1": "rows differ"}), (4, 3))

    def test_result_flags_failures(self):
        rec = record("etl_api", trace=False)
        rec["window"]["ops"][1]["error"] = "wrong output"
        res = metrics.result(rec, trace=False)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (False, 3, 1))

    def test_failed_ops_add_no_units(self):
        rec = record("etl_api", trace=False)
        ok = metrics.end_to_end(rec)["units_per_s"]
        rec["window"]["ops"][1]["error"] = "wrong output"
        self.assertLess(metrics.end_to_end(rec)["units_per_s"], ok)


class NameGrammarTest(unittest.TestCase):
    def test_grammar(self):
        for good in ("op_p50_s", "ext.dedup.verified_per_candidate", "9lives", "a-b"):
            self.assertTrue(metrics.NAME_RE.match(good), good)
        for bad in ("", "_x", ".x", "a b", "x" * 65, "a/b"):
            self.assertFalse(metrics.NAME_RE.match(bad), bad)
        for good in ("s", "1/s", "count/op", "B/op", "%", "MB"):
            self.assertTrue(metrics.UNIT_RE.match(good), good)
        for bad in ("", "a b", "x" * 17, "s^2"):
            self.assertFalse(metrics.UNIT_RE.match(bad), bad)

    def test_benchmark_file_names(self):
        b = load_benchmark()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(metrics.NAME_RE.match(m["name"]), m["name"])
            self.assertTrue(metrics.UNIT_RE.match(m["unit"]), m["unit"])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_check_names_rejects_non_numbers(self):
        with self.assertRaises(ValueError):
            metrics.check_names({"x": {"value": float("nan"), "unit": "s"}})
        with self.assertRaises(ValueError):
            metrics.check_names({"bad name": {"value": 1.0, "unit": "s"}})


class MetricsPresentTest(unittest.TestCase):
    def test_every_named_metric_for_each_workload(self):
        b = load_benchmark()
        self.assertEqual([w["name"] for w in b["workloads"]], list(metrics.WORKLOADS))
        for w in metrics.WORKLOADS:
            for trace, spec in ((False, b["end_to_end"]), (True, b["per_layer"])):
                res = metrics.result(record(w, trace), trace=trace)
                self.assertEqual(list(res["metrics"]), [m["name"] for m in spec], (w, trace))
                for m in spec:
                    self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})

    def test_per_layer_attribution(self):
        m = metrics.per_layer(record("etl_api", trace=True))
        self.assertEqual(m["api.calls"], 1.0)
        self.assertAlmostEqual(m["api.build_frac"], 0.5)
        self.assertEqual(m["api.eager_jobs"], 1.0)
        self.assertEqual(m["spark.jobs"], 1.0 + 1.0)
        # materialise span 0.5-1.0 s, its stage runs 0.7-0.8 s
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.4)
        self.assertAlmostEqual(m["ext.dedup.verified_per_candidate"], 0.9)
        self.assertAlmostEqual(m["setup.sinks_frac"], 1 / 2.6)

    def test_outside_stage_counts_eager_stages_as_inside(self):
        # op 0 runs 0-1 s; the stage of the api call's eager job runs
        # 0.5-0.6 s, the materialisation's 0.7-0.8 s: 0.2 s is in stages
        m = metrics.per_layer(record("etl_api", trace=True))
        self.assertAlmostEqual(m["spark.outside_stage_frac"], 0.8)
        self.assertLessEqual(m["spark.outside_stage_frac"] + m["spark.in_task_frac"], 1.0)

    def test_setup_leaves_out_the_set_up_from_jvm_start(self):
        self.assertAlmostEqual(metrics.end_to_end(record("etl_api", trace=False))["setup_s"], 2.6)

    def test_self_time_excludes_children(self):
        spans = [{"id": 0, "parent": -1, "start_ns": 0, "end_ns": 10},
                 {"id": 1, "parent": 0, "start_ns": 2, "end_ns": 5},
                 {"id": 2, "parent": 0, "start_ns": 4, "end_ns": 8}]
        self.assertEqual(metrics.self_times(spans), {0: 4, 1: 3, 2: 4})

    def test_tracing_overhead_pairs_labels(self):
        ops = [op(0, "a:1", 1.1, traced=True), op(1, "a:2", 1.0), op(2, "b:0", 2.0),
               op(3, "b:1", 2.2, traced=True)]
        self.assertAlmostEqual(metrics.tracing_overhead(ops), 0.1)


if __name__ == "__main__":
    unittest.main()
