"""Unit tests of the benchmark's statistics and call-site mapping.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402

WORKER = ("perfbench.Workload.ingest(Main.scala:203)\n"
          "perfbench.Main$.timed(Main.scala:157)\n"
          "graft.control.Control$.$anonfun$runParallel$3(Control.scala:60)\n"
          "scala.util.Try$.apply(Try.scala:217)\n"
          "java.base/java.lang.Thread.run(Thread.java:840)")


def site(*frames):
    return "\n".join(frames) + "\n" + WORKER


COUNT = site("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
             "graft.run.Pipelines$.apiIngest(Pipelines.scala:35)")
INFER = site("org.apache.spark.sql.classic.DataFrameReader.json(DataFrameReader.scala:57)",
             "graft.sources.Sources$.jsonStrings(Sources.scala:19)",
             "graft.run.Pipelines$.apiIngest(Pipelines.scala:32)")
WRITE = site("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
             "graft.run.Pipelines$.writeByLoadType(Pipelines.scala:88)",
             "graft.run.Pipelines$.apiIngest(Pipelines.scala:36)")
RUNLOG = site("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
              "graft.control.Control$RunLog.appendAll(Control.scala:48)",
              "perfbench.TimedRunLog.appendAll(Main.scala:184)",
              "graft.control.Control$RunLog.append(Control.scala:46)",
              "graft.run.Pipelines$.log$1(Pipelines.scala:30)",
              "graft.run.Pipelines$.apiIngest(Pipelines.scala:38)")
QUERY = site("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:2240)",
             "graft.SparkEntry$.$anonfun$queries$12(SparkEntry.scala:2001)")
AQE_THREAD = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
              "(SQLExecution.scala:329)\n"
              "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run"
              "(CompletableFuture.java:1768)\n"
              "java.base/java.lang.Thread.run(Thread.java:840)")


class TailTest(unittest.TestCase):

    def test_tail_has_ten_samples_beyond_it(self):
        rnd = random.Random(7)
        for n in range(11, 120):
            values = [rnd.random() for _ in range(n)]
            value, pct, count = stats.tail(values)
            self.assertEqual(count, n)
            self.assertEqual(sum(v > value for v in values), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_tail_percentiles(self):
        self.assertEqual(stats.tail(list(range(30)))[:2], (19, 100.0 * 20 / 30))
        self.assertEqual(stats.tail(list(range(40, 0, -1)))[:2], (30, 75.0))
        self.assertEqual(stats.tail([5.0] * 11)[:2], (5.0, 100.0 / 11))

    def test_no_tail_from_ten_or_fewer_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertIsNone(stats.tail([]))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class CallsiteTest(unittest.TestCase):

    def test_innermost_graft_method(self):
        self.assertEqual(stats.graft_method(COUNT), "graft.run.Pipelines.apiIngest")
        self.assertEqual(stats.graft_method(INFER), "graft.sources.Sources.jsonStrings")
        self.assertEqual(stats.graft_method(WRITE), "graft.run.Pipelines.writeByLoadType")

    def test_inner_class_keeps_its_name(self):
        self.assertEqual(stats.graft_method(RUNLOG), "graft.control.Control.RunLog.appendAll")

    def test_lambda_maps_to_enclosing_method(self):
        self.assertEqual(stats.graft_method(QUERY), "graft.SparkEntry.queries")

    def test_method_not_line(self):
        moved = COUNT.replace("Pipelines.scala:35", "Pipelines.scala:61")
        self.assertEqual(stats.graft_method(moved), stats.graft_method(COUNT))

    def test_no_graft_frame(self):
        self.assertIsNone(stats.graft_method(AQE_THREAD))
        self.assertIsNone(stats.graft_method(""))


class LayerTest(unittest.TestCase):

    @staticmethod
    def job(callsite, start, end):
        return {"method": stats.graft_method(callsite), "start_ms": start, "end_ms": end}

    def test_ingest_phases_split_at_the_write(self):
        jobs = [self.job(INFER, 0, 10), self.job(COUNT, 10, 30), self.job(COUNT, 30, 35),
                self.job(WRITE, 40, 90), self.job(COUNT, 90, 100), self.job(RUNLOG, 100, 120)]
        split = stats.ingest_phases(jobs)
        self.assertEqual(stats.busy_s(split["json_infer"]), 0.010)
        self.assertEqual(stats.busy_s(split["count_pass"]), 0.025)
        self.assertEqual(stats.busy_s(split["write"]), 0.050)
        self.assertEqual(stats.busy_s(split["readback"]), 0.010)
        self.assertEqual(len(split["other"]), 1)

    def test_covered_ms_merges_overlaps(self):
        self.assertEqual(stats.covered_ms([]), 0)
        self.assertEqual(stats.covered_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(stats.covered_ms([(30, 40), (0, 50)]), 50)


if __name__ == "__main__":
    unittest.main()
