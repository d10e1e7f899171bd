"""Self-tests of the perfbench harness arithmetic and its metric table.

Run with ``python3 perfbench/run.py --selftest`` (or this file directly). They
need no JVM: they exercise ``metrics.py`` on synthetic spans, jobs and ops,
and check ``BENCHMARK.json`` against the metric table.
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)


def span(i, name, start, end, parent=-1, op=0):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "op": op}


def job(i, start, end, group="", stages=()):
    return {"id": i, "group": group, "start": start, "end": end, "ok": True,
            "stages": list(stages)}


def stage(i, run_s=1.0, cpu_s=0.5, shuffle=10, spill=0, records=100):
    return {"id": i, "tasks": 4, "failed_tasks": 0, "attempts": 1,
            "run_s": run_s, "cpu_s": cpu_s, "gc_s": 0.0,
            "shuffle_bytes": shuffle, "spill_bytes": spill,
            "records_read": records}


def op(i, kind, seconds, rows=10, ok=True, traced=False):
    return {"id": i, "kind": kind, "seconds": seconds,
            "cpu_s": 2.0 * seconds,
            "rows": rows, "ok": ok, "traced": traced, "start": 0.0,
            "end": seconds, "error": "" if ok else "boom"}


def result(ops, spans=(), jobs=(), stages=(), checks=(), extras=None,
           trace_cost_s=0.0):
    return {"setup_s": 12.5, "cores": 4, "trace": True,
            "trace_cost_s": trace_cost_s,
            "steal": {"setup": 0.2, "timed": 0.0},
            "jvm": {"gc_pause_s": 0.1, "retained_heap_mb": 200.0},
            "checks": list(checks), "extras": extras or {},
            "recorder": {"ops": list(ops), "spans": list(spans),
                         "jobs": list(jobs), "stages": list(stages)}}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.reportable_percentile(19))
        self.assertEqual(metrics.reportable_percentile(20), 50)
        self.assertEqual(metrics.reportable_percentile(99), 50)
        self.assertEqual(metrics.reportable_percentile(100), 90)
        self.assertEqual(metrics.reportable_percentile(1000), 99)
        self.assertEqual(metrics.reportable_percentile(10000), 99.9)

    def test_quantile_interpolates(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(metrics.quantile(xs, 0.5), 5.5)
        self.assertAlmostEqual(metrics.quantile(xs, 0.9), 9.1)

    def test_query_p90_needs_100_queries(self):
        few = result([op(i, "query", 1.0) for i in range(99)])
        many = result([op(i, "query", 1.0 + i / 100.0) for i in range(100)])
        rep = {r[0]: r[1] for r in metrics.workload_report("index_serve", few)}
        self.assertIsNone(rep["query_p90_ms"])
        rep = {r[0]: r[1] for r in metrics.workload_report("index_serve", many)}
        self.assertAlmostEqual(rep["query_p90_ms"], 1891.0)


class SelfTime(unittest.TestCase):
    def test_nested_children(self):
        root = span(0, "plans", 0.0, 10.0)
        kids = [span(1, "encoders", 1.0, 4.0, 0), span(2, "sparkml", 3.0, 6.0, 0),
                span(3, "encoders", 8.0, 12.0, 0)]
        # children cover [1, 6] and [8, 10] of the parent
        self.assertAlmostEqual(metrics.self_seconds(root, kids), 3.0)

    def test_grandchildren_only_count_through_their_parent(self):
        spans = [span(0, "operators.recipe", 0.0, 10.0),
                 span(1, "operators.dedup", 2.0, 6.0, 0),
                 span(2, "operators.dedup", 3.0, 5.0, 1)]
        out, _, _ = metrics.layer_metrics(
            {"spans": spans, "jobs": [], "stages": []}, 4)
        self.assertAlmostEqual(out["operators.recipe.self_s"], 6.0)
        # the nested span of the same layer is not double-counted in wall
        self.assertAlmostEqual(out["operators.dedup.wall_s"], 4.0)
        self.assertAlmostEqual(out["operators.dedup.self_s"], 2.0 + 2.0)


class JobAttribution(unittest.TestCase):
    def test_by_job_group(self):
        spans = [span(0, "api.standing.append", 0.0, 10.0),
                 span(1, "api.standing.probe_dedup", 2.0, 4.0, 0)]
        # job 7 starts inside span 1 but its group names span 0
        jobs = [job(7, 3.0, 3.5, "pb-0"), job(8, 3.0, 3.5, "pb-1")]
        self.assertEqual(metrics.attribute_jobs(spans, jobs), {7: 0, 8: 1})

    def test_foreign_group_falls_back_to_innermost_open_span(self):
        spans = [span(0, "operators.dedup", 0.0, 10.0),
                 span(1, "operators.recipe", 2.0, 4.0, 0)]
        jobs = [job(1, 3.0, 3.5, "graft-overlap-x"), job(2, 5.0, 6.0, ""),
                job(3, 11.0, 12.0, "")]
        self.assertEqual(metrics.attribute_jobs(spans, jobs), {1: 1, 2: 0, 3: None})

    def test_layer_counters_and_gap(self):
        spans = [span(0, "operators.dedup", 0.0, 10.0)]
        jobs = [job(1, 1.0, 3.0, "pb-0", [1, 2]), job(2, 2.0, 5.0, "pb-0", [2, 3])]
        stages = [stage(1), stage(2), stage(3, run_s=2.0)]
        out, _, _ = metrics.layer_metrics(
            {"spans": spans, "jobs": jobs, "stages": stages}, 4)
        self.assertEqual(out["operators.dedup.jobs"], 2)
        self.assertAlmostEqual(out["operators.dedup.task_cpu_s"], 1.5)
        self.assertEqual(out["operators.dedup.shuffle_bytes"], 30)
        # jobs cover [1, 5]: 6 of 10 seconds have none of the span's jobs
        self.assertAlmostEqual(out["operators.dedup.driver_gap_s"], 6.0)
        self.assertAlmostEqual(out["operators.dedup.core_util"], 4.0 / 40.0)


class FailShare(unittest.TestCase):
    def test_failed_ops_and_failed_checks_over_attempted(self):
        r = result([op(0, "query", 1.0), op(1, "query", 1.0, ok=False),
                    op(2, "ingest", 2.0), op(3, "ingest", 2.0)],
                   checks=[{"name": "a", "ok": True, "detail": ""},
                           {"name": "b", "ok": False, "detail": ""}])
        self.assertEqual(metrics.fail_counts(r), (4, 2))
        rep = {x[0]: x[1] for x in metrics.workload_report("index_serve", r)}
        self.assertAlmostEqual(rep["fail_share"], 0.5)

    def test_gated_times_are_wall_less_steal(self):
        r = result([op(0, "curate", 10.0)])
        r["steal"]["timed"] = 0.1
        e2e = metrics.end_to_end("curate_corpus", r)
        self.assertAlmostEqual(e2e["work_s"][0], 9.0)
        self.assertAlmostEqual(e2e["setup_s"][0], 12.5 * 0.8)
        rep = {x[0]: x[1] for x in metrics.workload_report("curate_corpus", r)}
        self.assertAlmostEqual(rep["work_wall_s"], 10.0)
        self.assertAlmostEqual(rep["setup_wall_s"], 12.5)

    def test_failed_op_is_not_a_fast_time(self):
        r = result([op(0, "query", 2.0), op(1, "query", 0.01, ok=False),
                    op(2, "ingest", 3.0)])
        e2e = metrics.end_to_end("index_serve", r)
        self.assertAlmostEqual(e2e["work_s"][0], 5.0)
        rep = {x[0]: x[1] for x in metrics.workload_report("index_serve", r)}
        self.assertAlmostEqual(rep["query_p50_ms"], 2000.0)
        self.assertEqual(metrics.fail_counts(r), (3, 1))


class MetricTable(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_names_are_well_formed_and_unique(self):
        names = [w["name"] for w in self.bench["workloads"]]
        for key in ("end_to_end", "per_layer"):
            names += [m["name"] for m in self.bench[key]]
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))
        for n in metrics.per_layer_names():
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")

    def test_layer_table_metric_count(self):
        self.assertEqual(len(metrics.per_layer_names()), 111)

    def test_benchmark_lists_every_layer_metric(self):
        listed = [m["name"] for m in self.bench["per_layer"]]
        self.assertEqual(sorted(listed), sorted(metrics.per_layer_names()))

    def test_every_metric_is_emitted(self):
        spans = [span(0, "api.standing.probe_text", 0.0, 1.0, op=1)]
        r = result([op(1, "query", 1.0, traced=True),
                    op(2, "ingest", 0.9, traced=True)], spans=spans,
                   jobs=[job(1, 0.1, 0.5, "pb-0", [1])], stages=[stage(1)],
                   extras=dict({k: 1.0 for k in metrics.EXTRA_METRICS},
                               **{"api.standing.probe_result_rows": 1.0}),
                   trace_cost_s=0.19)
        layer = metrics.per_layer("index_serve", r)
        self.assertEqual(set(layer), set(metrics.per_layer_names()))
        for m in self.bench["per_layer"]:
            self.assertIn(m["name"], layer)
        e2e = metrics.end_to_end("index_serve", r)
        for m in self.bench["end_to_end"]:
            self.assertIn(m["name"], e2e)
            self.assertEqual(e2e[m["name"]][1], m["unit"])
        self.assertEqual(set(e2e), {m["name"] for m in self.bench["end_to_end"]})
        curate = {x[0] for x in metrics.workload_report(
            "curate_corpus", result([op(1, "curate", 9.0)]))}
        self.assertTrue({"setup_wall_s", "work_wall_s", "steal_share", "fail_share",
                         "curate_docs_per_s"} <= curate)
        tab = result([op(1, "query", 1.0), op(2, "ingest", 2.0), op(3, "fit", 3.0),
                      op(4, "predict", 1.0), op(5, "inspect", 2.0)])
        serve = {x[0] for x in metrics.workload_report("index_serve", tab)}
        self.assertTrue({"setup_wall_s", "fail_share", "query_p50_ms", "query_p90_ms",
                         "ingest_p50_ms", "fit_rows_per_s", "predict_rows_per_s",
                         "inspect_s"} <= serve)
        # the tabular ops of a traced run are not part of the gated work
        self.assertAlmostEqual(metrics.work_seconds("index_serve", tab), 3.0)
        # tracer time 0.19 s on 1.9 s of traced work
        self.assertAlmostEqual(layer["trace.overhead"], 1.1)
        self.assertAlmostEqual(layer["api.standing.rows_examined_per_result"], 100.0)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)


def main():
    suite = unittest.defaultTestLoader.loadTestsFromModule(sys.modules[__name__])
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
