"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import harness  # noqa: E402


def raw_record(requests=100, checks=(True,), ops=(10, 0)):
    return {
        "session_s": 2.0, "prepare_s": 1.0, "warmup_s": 4.0,
        "wall_s": 10.0, "writer_s": 8.0, "reader_s": 5.0, "rows_total": 1000,
        "input_bytes": 100, "output_bytes": 250,
        "ops_attempted": ops[0], "ops_failed": ops[1],
        "passes": [{"wall_s": w, "tick_s": w - 0.5, "read_s": 0.2,
                    "fresh_s": w - 0.1}
                   for w in (2.0, 3.0, 4.0)],
        "requests_ms": [float(i) for i in range(1, requests + 1)],
        "checks": [{"name": f"c{i}", "ok": ok, "detail": ""}
                   for i, ok in enumerate(checks)],
    }


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(harness.highest_percentile(100), 90)
        self.assertEqual(harness.highest_percentile(99), 50)
        self.assertEqual(harness.highest_percentile(1000), 99)
        self.assertEqual(harness.highest_percentile(10009), 99.9)
        self.assertIsNone(harness.highest_percentile(19))
        self.assertEqual(harness.highest_percentile(20), 50)

    def test_nearest_rank(self):
        xs = list(range(100, 0, -1))
        self.assertEqual(harness.percentile(xs, 90), 90)
        self.assertEqual(harness.percentile(xs, 50), 50)
        self.assertEqual(harness.percentile([7.0], 90), 7.0)

    def test_p90_needs_a_hundred_requests(self):
        harness.end_to_end(raw_record(requests=100))
        with self.assertRaises(ValueError):
            harness.end_to_end(raw_record(requests=99))

    def test_no_reader_no_request_metrics(self):
        m = harness.end_to_end(raw_record(requests=0))
        self.assertNotIn("request_p50_ms", m)
        self.assertNotIn("requests_per_s", m)
        self.assertIn("wall_s", m)


class SelfTime(unittest.TestCase):
    def test_span_minus_union_of_overlapping_jobs(self):
        span = {"id": 1, "start": 1000.0, "end": 2000.0}
        # two jobs overlapping each other (futures), one running past the
        # span's end: covered = [1100, 1400] + [1900, 2000] = 400 ms
        jobs = [{"start": 1100, "end": 1300}, {"start": 1200, "end": 1400},
                {"start": 1900, "end": 2200}]
        self_s, covered = harness.self_time(span, jobs)
        self.assertAlmostEqual(covered, 0.4)
        self.assertAlmostEqual(self_s, 0.6)
        self.assertAlmostEqual(self_s + covered, 1.0)

    def test_no_jobs_is_all_self(self):
        self_s, covered = harness.self_time({"start": 0.0, "end": 250.0}, [])
        self.assertEqual((self_s, covered), (0.25, 0.0))

    def test_union_length(self):
        self.assertEqual(harness.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(harness.union_length([]), 0)

    def test_job_goes_to_the_span_its_property_names(self):
        spans = [{"id": 1, "thread": "main", "start": 0.0, "end": 100.0},
                 {"id": 2, "thread": "reader", "start": 20.0, "end": 80.0}]
        jobs = [{"span": "1", "start": 50}, {"span": "2", "start": 50}]
        owned = harness.attribute(spans, jobs)
        self.assertEqual([j["span"] for j in owned[1]], ["1"])
        self.assertEqual([j["span"] for j in owned[2]], ["2"])

    def test_stale_property_follows_its_spans_thread(self):
        # a pool thread started in span 1 (main) still carries "1" while
        # main is in span 3; the reader's span 2 is open meanwhile
        spans = [{"id": 1, "thread": "main", "start": 0.0, "end": 100.0},
                 {"id": 2, "thread": "reader", "start": 240.0, "end": 400.0},
                 {"id": 3, "thread": "main", "start": 200.0, "end": 300.0}]
        jobs = [{"span": "1", "start": 50}, {"span": "1", "start": 250},
                {"span": "1", "start": 350}]
        owned = harness.attribute(spans, jobs)
        self.assertEqual([j["start"] for j in owned[1]], [50])
        self.assertEqual([j["start"] for j in owned[3]], [250])
        self.assertEqual(owned[2], [])

    def test_job_without_span_property_is_not_attributed(self):
        # an untraced call's job, while another thread's span is open
        spans = [{"id": 1, "thread": "reader", "start": 0.0, "end": 100.0}]
        jobs = [{"span": "", "start": 50}, {"span": "7", "start": 60}]
        self.assertEqual(harness.attribute(spans, jobs), {1: []})


class CallSites(unittest.TestCase):
    def test_call_site_to_layer(self):
        cases = {
            "parquet at TableManifest.scala:410": "table_protocol",
            "collect at MergeUpsert.scala:631": "table_protocol",
            "count at IncrementalDedup.scala:88": "dedup",
            "collect at Similarity.scala:12": "dedup",
            "collect at DimResolver.scala:40": "dim",
            "parquet at Lineage.scala:37": "pipeline",
            "csv at IngestJob.scala:130": "pipeline",
            "collect at StreamCuration.scala:700": "streaming",
            "collect at Strain.scala:110": "other",
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768": "other",
            "?": "other",
            "": "other",
        }
        for site, layer in cases.items():
            self.assertEqual(harness.site_layer(site), layer, site)


    def test_helper_thread_jobs_take_their_execution_site(self):
        jobs = [{"site": "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
                 "execution": "7"},
                {"site": "count at Dedup.scala:310", "execution": "7"},
                {"site": "run at ThreadPoolExecutor.java:1136", "execution": ""}]
        executions = {"7": "parquet at TableManifest.scala:260"}
        sites = [j["site"] for j in harness.resolve_sites(jobs, executions)]
        self.assertEqual(sites, ["parquet at TableManifest.scala:260",
                                 "count at Dedup.scala:310",
                                 "run at ThreadPoolExecutor.java:1136"])
        self.assertEqual([harness.site_layer(s) for s in sites],
                         ["table_protocol", "dedup", "other"])


class Failures(unittest.TestCase):
    def test_failed_check_raises_failed_frac(self):
        ok = harness.summarize(raw_record(checks=(True, True)))
        bad = harness.summarize(raw_record(checks=(True, False)))
        self.assertTrue(ok["correct"])
        self.assertEqual(harness.failed_frac(ok), 0.0)
        self.assertFalse(bad["correct"])
        self.assertEqual((bad["failed"], bad["attempted"]), (1, 12))
        self.assertGreater(harness.failed_frac(bad), 0.0)

    def test_failed_operation_counts(self):
        r = harness.summarize(raw_record(ops=(10, 2)))
        self.assertEqual((r["correct"], r["failed"], r["attempted"]), (False, 2, 11))


class Metrics(unittest.TestCase):
    def test_end_to_end_values(self):
        m = harness.end_to_end(raw_record())
        self.assertEqual(m["setup_s"], 2.0 + 4.0 + 1.0)
        self.assertEqual(m["rows_per_s"], 125.0)
        self.assertEqual(m["freshness_p50_s"], 2.9)
        self.assertEqual(m["request_p90_ms"], 90.0)
        self.assertEqual(m["requests_per_s"], 20.0)
        self.assertEqual(m["curated_read_p50_ms"], 200.0)
        self.assertEqual(m["space_amp"], 2.5)

    def test_traced_run(self):
        # set-up span 1 owns a job; spans 2 and 3 are reported
        trace = {
            "spans": [
                {"id": 1, "name": "setup", "thread": "main", "start": 0.0,
                 "end": 500.0, "rows_out": 0, "in_bytes": 0},
                {"id": 2, "name": "pipeline.ingest", "thread": "main",
                 "start": 1000.0, "end": 2000.0, "rows_out": 0, "in_bytes": 1000},
                {"id": 3, "name": "pipeline.query", "thread": "reader",
                 "start": 1500.0, "end": 1600.0, "rows_out": 4, "in_bytes": 0}],
            "jobs": [dict(id=i, span=sp, site=site, execution="", start=a, end=b,
                          tasks=2, busy_s=0.1, shuffle_bytes=0, read_bytes=0,
                          read_records=rec, written_bytes=wb, spill_bytes=0)
                     for i, (sp, site, a, b, rec, wb) in enumerate([
                         ("1", "csv at IngestJob.scala:1", 100, 200, 0, 0),
                         ("2", "parquet at TableManifest.scala:2", 1100, 1400, 0, 3000),
                         ("3", "collect at QueryLayer.scala:3", 1520, 1560, 40, 0),
                         ("", "count at Strain.scala:4", 1550, 1580, 0, 0)])],
            "executions": {},
        }
        raw = dict(raw_record(), wall_s=12.0, canary_pre_s=1.0,
                   canary_post_s=1.1, io_canary_s=0.5, trace=trace)
        m = harness.layer_metrics(raw, plain_wall_s=10.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.2)
        self.assertAlmostEqual(m["pipeline.ingest.self_s"], 0.7)
        self.assertEqual(m["pipeline.query.jobs"], 1)
        self.assertEqual(m["pipeline.query.rows_scanned_per_row_returned"], 10.0)
        self.assertEqual(m["pipeline.ingest.written_bytes_per_input_byte"], 3.0)
        self.assertEqual((m["site.table_protocol.jobs"], m["site.pipeline.jobs"],
                          m["site.other.jobs"]), (1, 1, 0))

    def test_benchmark_json_lists_the_harness_metrics(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         harness.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         harness.per_layer_names())


if __name__ == "__main__":
    unittest.main()
