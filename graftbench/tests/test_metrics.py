"""Unit tests of the benchmark's metric derivation (no JVM needed).

    python3 -m unittest discover -s graftbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402


def op(kind, ms, ok=True, i=0, rows=1, error=None):
    return {"kind": kind, "id": f"{kind}#{i}", "ms": ms, "ok": ok, "rows": rows,
            "error": error, "start_ms": 0.0}


def record(ops, **extra):
    rec = {"ops": ops, "checks": [], "timed_start_s": 20.0,
           "setup": {"prep_s": [2.0, 1.0, 3.0], "warmup_s": 4.0},
           "jvm": {"session_s": 5.0, "gc_ms": 10, "heap_peak_mb": 100.0}}
    rec.update(extra)
    return rec


class TailPercentileTest(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(metrics.tail_percentile(range(19)))

    def test_twenty_samples_give_the_median(self):
        # nearest rank of p50 in 20 samples is 10, leaving exactly 10 beyond
        self.assertEqual(metrics.tail_percentile(range(1, 21)), (50.0, 10))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        # p90 has rank 90 and 10 samples beyond; p95 would leave only 5
        self.assertEqual(metrics.tail_percentile(xs), (90.0, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 1001))), (99.0, 990))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(reversed(xs)), metrics.tail_percentile(xs))


class FailureAccountingTest(unittest.TestCase):
    def test_thrown_and_mismatched_ops_count_as_failed(self):
        ops = [op("batch", 10, i=0), op("batch", 11, ok=False, i=1, error="threw x"),
               op("batch", 12, ok=False, i=2, error="injected mismatch"), op("batch", 13, i=3)]
        self.assertEqual(metrics.failure_counts(ops), (4, 2, 0.5))

    def test_failed_check_counts_as_a_failed_attempt(self):
        ops = [op("detail", 5, i=i) for i in range(3)]
        checks = [{"name": "a", "ok": True, "detail": ""}, {"name": "b", "ok": False, "detail": ""}]
        self.assertEqual(metrics.failure_counts(ops, checks), (5, 1, 0.2))

    def test_failed_ops_are_left_out_of_latency(self):
        ops = [op("batch", 100, i=0), op("batch", 5000, ok=False, i=1), op("batch", 300, i=2)]
        rec = record(ops, ingest={"events_per_batch": 1000, "timed_wall_s": 2.0,
                                  "store_bytes": 5000, "events_ingested": 50})
        m, _ = metrics.end_to_end("ingest", rec, [])
        self.assertEqual(m["ingest.batch_p50_ms"], 200)
        self.assertEqual(m["ingest.events_per_s"], 1000.0)
        self.assertAlmostEqual(m["failed_frac"], 1 / 3)
        self.assertEqual(m["ingest.store_bytes_per_event"], 100.0)


class EndToEndTest(unittest.TestCase):
    def test_dashboard_throughput_is_that_of_the_fixed_cycle(self):
        ops = [op("detail", 400, i=0), op("refresh", 600, i=1), op("availability", 500, i=2),
               op("detail", 400, i=3), op("refresh", 600, i=4), op("pareto", 1000, i=5),
               op("detail", 400, i=6), op("refresh", 600, i=7), op("oee", 1500, i=8),
               op("detail", 400, i=9), op("refresh", 600, i=10)]
        # 3 ops per 400 + 600 + (500 + 1000 + 1500) / 3 ms
        self.assertAlmostEqual(metrics.queries_per_s(ops, 99.0, 1), 1.5)
        # 5 ops per 2 x (400 + 600) + 1000 ms
        self.assertAlmostEqual(metrics.queries_per_s(ops, 99.0, 2), 5 / 3)
        # overview kinds without a sample are left out of the mean
        self.assertAlmostEqual(metrics.queries_per_s(ops[:3], 99.0, 1), 2.0)
        # without any overview sample: ok ops over the wall
        self.assertEqual(metrics.queries_per_s(ops[:2], 2.0, 1), 1.0)

    def test_setup_counts_the_repeated_preparation_once_at_its_median(self):
        rec = record([op("batch", 1)])
        self.assertEqual(metrics.setup_s(rec), 20.0 - 6.0 + 2.0)

    def test_corpus_pass_needs_all_four_ops_ok(self):
        kinds = metrics.OPS["corpus"]
        ops = [op(k, 1000, i=i) for i, k in enumerate(kinds)]
        ops += [op(k, 2000, ok=(k != "bm25"), i=4 + i) for i, k in enumerate(kinds)]
        rec = record(ops, corpus={"documents": 100, "timed_wall_s": 10.0})
        m, notes = metrics.end_to_end("corpus", rec, [])
        self.assertEqual(m["corpus.pass_ms"], 4000)
        self.assertEqual(m["corpus.pass_s"], 4.0)
        self.assertEqual(notes["corpus.pass_s"], {"n": 1})

    def test_every_workload_reports_every_gated_metric(self):
        for w, rec in (
                ("ingest", record([op("batch", 1)], ingest={
                    "events_per_batch": 1, "timed_wall_s": 1.0, "store_bytes": 1,
                    "events_ingested": 1})),
                ("dashboard", record([op("detail", 1), op("pareto", 2, i=1)],
                                     dashboard={"timed_wall_s": 1.0, "details_per_cycle": 2})),
                ("corpus", record([op(k, 1, i=i) for i, k in enumerate(metrics.OPS["corpus"])],
                                  corpus={"documents": 1, "timed_wall_s": 1.0}))):
            m, _ = metrics.end_to_end(w, rec, [])
            self.assertEqual({n for n, _, _ in metrics.WORKLOAD_METRICS[w]}, set(m))
            g = metrics.gated(w, m)
            self.assertEqual([n for n, _, _ in metrics.GATED], list(g))
            self.assertTrue(all(v for v in g.values()), (w, g))


class PerLayerTest(unittest.TestCase):
    def test_idle_layers_read_zero_and_ratios_use_op_wall(self):
        ops = [op("contamination", 1000, i=0, rows=5)]
        trace = {
            "spans": [{"id": 1, "name": "functions.contamination", "start_ns": 0,
                       "end_ns": 900_000_000, "parent": -1, "op": "contamination#0"}],
            "counts": [],
            "jobs": {"contamination#0": 3},
            "tasks": {"contamination#0": {"tasks": 8, "max_task_ms": 600.0, "sum_task_ms": 2000.0,
                                          "shuffle_bytes": 10, "spill_bytes": 0, "task_gc_ms": 0}},
            "queries": [{"op": "contamination#0", "plan_ms": 5, "exec_ms": 900,
                         "analyzed_expr": 40, "optimized_expr": 10}],
            "progress": [],
            "scans": {"contamination#0": {"files": 1, "rows": 50}},
        }
        out = metrics.per_layer(record(ops, trace=trace))
        self.assertEqual(set(out), {n for n, _ in metrics.PER_LAYER})
        self.assertEqual(out["spark.max_task_share.contamination"], 0.6)
        self.assertEqual(out["spark.busy_share.contamination"], 0.5)
        self.assertEqual(out["spark.plan_expr_ratio.contamination"], 0.25)
        self.assertEqual(out["spark.jobs.contamination"], 3)
        self.assertEqual(out["functions.op_s.contamination"], 0.9)
        self.assertEqual(out["streaming.trigger_ms"], 0.0)
        self.assertEqual(out["query.plan_ms.detail"], 0.0)

    def test_scans_are_taken_per_op_even_when_no_query_reports_them(self):
        # a refresh whose scan adaptive execution dropped from the final
        # plan: the scan counters still come from the listener
        ops = [op("refresh", 100, i=0, rows=720), op("refresh", 100, i=1, rows=720),
               op("refresh", 100, i=2, rows=720)]
        trace = {"spans": [], "counts": [], "jobs": {}, "tasks": {}, "queries": [],
                 "progress": [],
                 "scans": {"refresh#0": {"files": 4, "rows": 1440},
                           "refresh#1": {"files": 6, "rows": 720}}}
        out = metrics.per_layer(record(ops, trace=trace))
        self.assertEqual(out["sources.files_scanned.refresh"], 4)
        self.assertEqual(out["sources.rows_scanned_per_row_out.refresh"], 1.0)

    def test_exercised_layers_that_read_zero_are_named(self):
        names = metrics.EXERCISED["dashboard"]
        self.assertIn("sources.files_scanned.refresh", names)
        self.assertNotIn("functions.op_s.contamination", names)
        layers = {n: 1.0 for n in names}
        self.assertEqual(metrics.silent_layers("dashboard", layers), [])
        layers["sources.files_scanned.refresh"] = 0.0
        del layers["query.exec_ms.oee"]
        self.assertEqual(sorted(metrics.silent_layers("dashboard", layers)),
                         ["query.exec_ms.oee", "sources.files_scanned.refresh"])
        for w, ex in metrics.EXERCISED.items():
            self.assertTrue(set(ex) <= {n for n, _ in metrics.PER_LAYER}, w)


class BenchmarkJsonTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_the_runs_print(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], ["ingest", "dashboard", "corpus"])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.GATED)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], metrics.PER_LAYER)
        self.assertEqual(spec["end_to_end"][0]["name"], "setup_s")
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
