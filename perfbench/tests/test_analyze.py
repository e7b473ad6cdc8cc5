"""Unit tests for the benchmark's record analysis (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyze  # noqa: E402

INDEX = {"WeatherIngest.scala": "graft.weather", "Relational.scala": "graft.operators",
         "Dedup.scala": "graft.datapipe", "Tables.scala": "graft"}


class TailRule(unittest.TestCase):
    def test_highest_ladder_percentile_with_ten_beyond(self):
        for n, want in [(20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
                        (199, 90), (200, 95), (999, 95), (1000, 99), (10000, 99.9)]:
            pct, _ = analyze.tail(list(range(n)))
            self.assertEqual(pct, want, f"n={n}")

    def test_tail_value_is_nearest_rank(self):
        values = list(range(1, 41))  # 40 samples -> p75 = 30th value
        self.assertEqual(analyze.tail(values), (75, 30))
        self.assertEqual(40 - 30, 10)

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(analyze.tail([5, 1, 3]), (50, 3))
        self.assertEqual(analyze.tail([1, 2, 3, 4]), (50, 2.5))

    def test_percentile(self):
        self.assertEqual(analyze.percentile([3, 1, 2], 50), 2)
        self.assertEqual(analyze.percentile([3, 1, 2], 100), 3)
        self.assertEqual(analyze.percentile([3, 1, 2], 1), 1)


class Attribution(unittest.TestCase):
    def test_call_site_to_module(self):
        cases = {
            "count at WeatherIngest.scala:125": "graft.weather",
            "first at WeatherIngest.scala:97": "graft.weather",
            "q01_pricing_summary at Relational.scala": "graft.operators",
            "localCheckpoint at Dedup.scala:571": "graft.datapipe",
            "parquet at Tables.scala:40": "graft",
            "run at FutureTask.java:317": None,
            "collect at Unknown.scala:3": None,
            "": None,
            None: None,
        }
        for site, want in cases.items():
            self.assertEqual(analyze.site_module(site, INDEX), want, site)

    def test_broadcast_job_falls_back_to_its_root_sql_execution(self):
        sql = {1: {"id": 1, "root": 1, "site": "count at WeatherIngest.scala:125"},
               2: {"id": 2, "root": 1, "site": "run at FutureTask.java:317"}}
        job = {"site": "run at FutureTask.java:317", "sql_exec": 2}
        self.assertEqual(analyze.job_module(job, sql, INDEX), "graft.weather")
        self.assertIsNone(analyze.job_module({"site": "x at Y.java:1", "sql_exec": 9}, sql, INDEX))
        self.assertEqual(analyze.job_module({"site": "count at Dedup.scala:1"}, sql, INDEX),
                         "graft.datapipe")

    def test_module_index_uses_package_directories(self):
        with tempfile.TemporaryDirectory() as root:
            for rel in ["graft/Tables.scala", "graft/weather/WeatherIngest.scala",
                        "org/apache/spark/sql/graft/ColumnBridge.scala", "graft/notes.txt"]:
                os.makedirs(os.path.join(root, os.path.dirname(rel)), exist_ok=True)
                open(os.path.join(root, rel), "w").close()
            self.assertEqual(analyze.module_index(root), {
                "Tables.scala": "graft", "WeatherIngest.scala": "graft.weather",
                "ColumnBridge.scala": "org.apache.spark.sql.graft"})


class RecordParser(unittest.TestCase):
    def test_parses_records_and_skips_blank_lines(self):
        lines = ['{"t":"setup","session_s":1.5}', "", '{"t":"op","kind":"query","s":0.2}\n']
        recs = analyze.parse_records(lines)
        self.assertEqual([r["t"] for r in recs], ["setup", "op"])
        self.assertEqual(recs[1]["s"], 0.2)

    def test_rejects_malformed_lines(self):
        with self.assertRaisesRegex(ValueError, "line 2: not JSON"):
            analyze.parse_records(['{"t":"end"}', '{"t":'])
        with self.assertRaisesRegex(ValueError, "not a benchmark record"):
            analyze.parse_records(['{"t":"bogus"}'])
        with self.assertRaisesRegex(ValueError, "not a benchmark record"):
            analyze.parse_records(["[1, 2]"])


def _op(name, s, start, pass_=1, ok=True, traced=False, **kw):
    return {"t": "op", "kind": "query", "name": name, "module": "graft.operators",
            "start": start, "s": s, "pass": pass_, "ok": ok, "traced": traced,
            "hash": "ab", "rows": 1, "build_s": s / 2, "plan_s": 0.0, "exec_s": s / 2, **kw}


class Metrics(unittest.TestCase):
    def records(self):
        return [{"t": "setup", "session_s": 5.0, "fixture_s": 0.5},
                {"t": "warmup", "s": 10.0},
                _op("q1", 9.0, 0, pass_=0),  # warm-up: not timed
                _op("q1", 1.0, 1000), _op("q2", 3.0, 2000), _op("q1", 2.0, 5000),
                {"t": "end", "heap_retained_mb": 90.0, "peak_rss_mb": 900.0}]

    def test_end_to_end(self):
        m, facts = analyze.end_to_end(self.records(), "query-mix")
        self.assertEqual(m["setup_s"], (15.5, "s"))
        self.assertEqual(m["op_p50_ms"], (2000.0, "ms"))
        self.assertEqual(m["ops_per_s"], (0.5, "1/s"))
        self.assertEqual(m["heap_retained_mb"], (90.0, "MiB"))
        self.assertEqual(facts, {"tail_percentile": 50, "op_samples": 3, "peak_rss_mb": 900.0})

    def test_per_layer_attributes_jobs_inside_traced_ops(self):
        recs = [_op("q1", 1.0, 1000, traced=True), _op("q1", 1.0, 3000),
                {"t": "job", "start": 1100, "end": 1500, "site": "q1 at Relational.scala",
                 "sql_exec": -1, "stages": 2, "tasks": 8, "run_ms": 1200, "gc_ms": 10,
                 "shuffle_bytes": 64, "spill_bytes": 0},
                {"t": "job", "start": 1400, "end": 1600, "site": "run at FutureTask.java:1",
                 "sql_exec": -1, "stages": 1, "tasks": 4, "run_ms": 400, "gc_ms": 0,
                 "shuffle_bytes": 0, "spill_bytes": 0}]
        m = analyze.per_layer(recs, "query-mix", INDEX, cores=4)
        self.assertEqual(m["spark.jobs_per_op"][0], 2)
        self.assertEqual(m["spark.tasks_per_op"][0], 12)
        self.assertAlmostEqual(m["spark.no_job_s"][0], 0.5)  # 1 s minus 500 ms of jobs
        self.assertAlmostEqual(m["spark.task_busy_frac"][0], 1600 / (1000 * 4))
        self.assertAlmostEqual(m["spark.job_attributed_frac"][0], 400 / 600)
        self.assertAlmostEqual(m["jobtime.operators_s"][0], 0.4)
        self.assertEqual(m["trace_overhead_frac"][0], 0.0)
        self.assertEqual(m["sources.rows_decoded"][0], 0)  # layer not exercised

    def test_union_of_intervals(self):
        self.assertEqual(analyze.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(analyze.union_ms([]), 0)


class MetricNames(unittest.TestCase):
    def test_reported_names_match_benchmark_json(self):
        spec = os.path.join(os.path.dirname(analyze.__file__), "..", "BENCHMARK.json")
        if not os.path.exists(spec):
            self.skipTest("no BENCHMARK.json beside the benchmark directory")
        with open(spec) as f:
            bench = json.load(f)
        recs = Metrics().records()
        for workload in ("ingest", "query-mix"):
            e2e, _ = analyze.end_to_end(
                [dict(r, kind="cycle") if r["t"] == "op" and workload == "ingest" else r
                 for r in recs], workload)
            self.assertEqual({n: u for n, (_, u) in e2e.items()},
                             {m["name"]: m["unit"] for m in bench["end_to_end"]})
            layer = analyze.per_layer(recs, workload, INDEX, cores=4)
            self.assertEqual({n: u for n, (_, u) in layer.items()},
                             {m["name"]: m["unit"] for m in bench["per_layer"]})


class Correctness(unittest.TestCase):
    def test_golden_mismatch_and_failures_count(self):
        recs = [_op("q1", 1.0, 0), _op("q2", 1.0, 0, hash="ff"),
                _op("q3", 1.0, 0, ok=False, error="boom"),
                _op("q1", 1.0, 0, pass_=0, hash="00"),
                {"t": "check", "name": "sink_no_nan", "ok": False, "detail": "2 rows"}]
        goldens = {"q1": "ab:1", "q2": "ab:1", "q3": "ab:1"}
        attempted, failed, problems = analyze.correctness(recs, goldens)
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(len(problems), 4)  # q2, q3, the warm-up q1 and the check
        self.assertTrue(any("boom" in p for p in problems))


if __name__ == "__main__":
    unittest.main()
