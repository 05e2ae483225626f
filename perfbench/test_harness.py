"""Self-tests for the benchmark harness: percentiles, the host-speed
factor, span self time, freshness from checkpoint source logs, and
call-site attribution on synthetic listener events.

    python3 perfbench/run.py --selftest
"""
import json
import os
import tempfile
import unittest

import harness as h


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(h.percentile(xs, 0), 10)
        self.assertEqual(h.percentile(xs, 50), 25)
        self.assertEqual(h.percentile(xs, 100), 40)
        self.assertAlmostEqual(h.percentile(xs, 75), 32.5)

    def test_summary_counts_samples_beyond_each_percentile(self):
        s = h.summary(list(range(1, 101)))
        self.assertEqual(s["n"], 100)
        self.assertAlmostEqual(s["p90"], 90.1)
        self.assertEqual(s["beyond_p90"], 10)
        self.assertEqual(s["beyond_p50"], 50)

    def test_single_sample_and_empty(self):
        self.assertEqual(h.percentile([7], 75), 7)
        with self.assertRaises(ValueError):
            h.percentile([], 50)


class HostFactor(unittest.TestCase):
    def test_speed_times_delivered_share_in_window(self):
        samples = [(900, 0.5, 0, 0), (1000, 0.010, 100, 10), (1500, 0.040, 200, 20),
                   (2000, 0.025, 400, 60), (2100, 0.5, 900, 90)]
        factor, speed, delivered, n = h.host_factor(samples, 1000, 2000, 0.020)
        self.assertEqual(n, 3)
        self.assertAlmostEqual(speed, 0.8)
        self.assertAlmostEqual(delivered, 300 / 350)
        self.assertAlmostEqual(factor, 0.8 * 300 / 350)

    def test_too_few_samples_in_window(self):
        with self.assertRaises(ValueError):
            h.host_factor([(100, 0.02, 0, 0), (1500, 0.02, 5, 0)], 1000, 2000, 0.020)


def span(name, start, end, parent=-1, trace="0"):
    return {"name": name, "start_ms": start, "end_ms": end, "parent": parent, "trace": trace}


class SelfTime(unittest.TestCase):
    def test_parent_minus_union_of_children(self):
        spans = [span("batch", 0, 100),
                 span("gate", 10, 30, 0),
                 span("run", 25, 90, 0),     # overlaps gate: union is 10..90
                 span("write", 40, 60, 2)]
        t = h.self_times(spans)
        self.assertAlmostEqual(t["batch"], 20)   # 100 - 80
        self.assertAlmostEqual(t["gate"], 20)
        self.assertAlmostEqual(t["run"], 45)     # 65 - 20
        self.assertAlmostEqual(t["write"], 20)

    def test_children_outside_parent_are_clipped_and_names_sum(self):
        spans = [span("a", 0, 10), span("b", 5, 20, 0), span("a", 20, 30)]
        t = h.self_times(spans)
        self.assertAlmostEqual(t["a"], 5 + 10)
        self.assertAlmostEqual(t["b"], 15)

    def test_union_length(self):
        self.assertEqual(h.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(h.union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5), 1.0)
        self.assertEqual(h.union_length([], 0, 1), 0)


class Freshness(unittest.TestCase):
    def checkpoint(self, logs):
        d = tempfile.mkdtemp()
        os.makedirs(os.path.join(d, "sources", "0"))
        for name, entries in logs.items():
            with open(os.path.join(d, "sources", "0", name), "w") as f:
                f.write("v1\n")
                for path, batch in entries:
                    f.write(json.dumps({"path": "file://" + path, "timestamp": 1,
                                        "batchId": batch}) + "\n")
        with open(os.path.join(d, "sources", "0", ".1.crc"), "w") as f:
            f.write("ignored")
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        return d

    def test_source_log_maps_files_to_batches_including_compactions(self):
        ck = self.checkpoint({
            "0": [("/w/file-00000.parquet", 0), ("/w/file-00001.parquet", 0)],
            "1": [("/w/file-00002.parquet", 1)],
            "1.compact": [("/w/file-00000.parquet", 0), ("/w/file-00001.parquet", 0),
                          ("/w/file-00002.parquet", 1)],
            "2": [("/w/file-00003.parquet", 2)]})
        self.assertEqual(h.read_source_log(ck), {
            "file-00000.parquet": 0, "file-00001.parquet": 0,
            "file-00002.parquet": 1, "file-00003.parquet": 2})

    def test_freshness_is_batch_end_minus_due_time(self):
        ck = self.checkpoint({"0": [("/w/a", 0), ("/w/b", 0)], "1": [("/w/c", 1)]})
        batches = [{"batch": 0, "start_ms": 1000, "durations": {"triggerExecution": 500}},
                   {"batch": 1, "start_ms": 1600, "durations": {"triggerExecution": 400}}]
        releases = [{"file": "a", "due_ms": 900, "moved_ms": 901},
                    {"file": "b", "due_ms": 1100, "moved_ms": 1102},
                    {"file": "c", "due_ms": 1300, "moved_ms": 1300},
                    {"file": "never", "due_ms": 1400, "moved_ms": 1400}]
        fb = h.read_source_log(ck)
        self.assertEqual(h.freshness(releases, batches, fb), [600, 400, 700])
        # at the last release nothing is committed yet (batch 0 ends at 1500)
        self.assertEqual(h.backlog_max(releases, batches, fb), 4)
        self.assertEqual(h.backlog_max(releases[:2], batches, fb), 2)


class Attribution(unittest.TestCase):
    WRITE = ("org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:118)\n"
             "graft.ingest.IngestWriter$.write(IngestWriter.scala:108)\n"
             "graft.ingest.Ingest$.run(Ingest.scala:139)\n"
             "perfbench.DrainParquet$.x(DrainParquet.scala:60)")
    PROMOTE = ("org.apache.spark.rdd.RDD.collect(RDD.scala:1049)\n"
               "graft.ingest.IngestWriter$.$anonfun$promote$1(IngestWriter.scala:170)\n"
               "graft.ingest.IngestWriter$.promote(IngestWriter.scala:165)")
    AQE = "java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)"

    def test_site_of_takes_the_innermost_engine_frame(self):
        self.assertEqual(h.site_of(self.WRITE), "ingest.IngestWriter.write")
        self.assertEqual(h.site_of(self.PROMOTE), "ingest.IngestWriter.promote")
        self.assertEqual(h.site_of("graft.ingest.CommitManifest$.writeStats(Ingest.scala:420)"),
                         "ingest.CommitManifest.writeStats")
        self.assertIsNone(h.site_of(self.AQE))
        self.assertIsNone(h.site_of(""))

    def test_jobs_map_through_execution_id_then_stage_site_then_span(self):
        spans = [span("streaming.batch", 0, 100), span("ingest.Dlq.write", 1, 50, 0)]
        sqls = [{"id": 7, "root": 7, "details": self.WRITE},
                # an AQE sub-execution whose own site is a thread pool
                {"id": 8, "root": 7, "details": self.AQE}]
        jobs = [
            {"id": 1, "exec_id": 7, "span": 0, "stages": [1, 2], "details": self.AQE},
            {"id": 2, "exec_id": 8, "span": 0, "stages": [3], "details": self.AQE},
            {"id": 3, "exec_id": None, "span": 0, "stages": [4], "details": self.PROMOTE},
            {"id": 4, "exec_id": None, "span": 1, "stages": [5], "details": self.AQE},
            {"id": 5, "exec_id": None, "span": None, "stages": [6, 2], "details": ""},
            # under the harness's root span only: no layer to name
            {"id": 6, "exec_id": None, "span": 0, "stages": [7], "details": self.AQE},
        ]
        stages = [{"id": i, "run_ms": 1000 * i} for i in range(1, 8)]
        got = h.attribute(jobs, sqls, stages, spans)
        self.assertEqual(got, {
            "ingest.IngestWriter.write": 1 + 2 + 3,   # stage 2 counts once, for job 1
            "ingest.IngestWriter.promote": 4,
            "ingest.Dlq.write": 5,
            "unattributed": 6 + 7})

    def test_driver_gap_is_unit_time_outside_jobs(self):
        jobs = [{"start_ms": 10, "end_ms": 40}, {"start_ms": 30, "end_ms": 50},
                {"start_ms": 90, "end_ms": None}]
        self.assertEqual(h.driver_gap_ms([(0, 100), (40, 60)], jobs), [60, 10])


if __name__ == "__main__":
    unittest.main()
