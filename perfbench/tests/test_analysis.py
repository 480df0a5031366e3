"""Tests of the benchmark's own logic: the tail-percentile rule, the
call-site classifier on a recorded event sequence, the self-time
computation, and failure accounting.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import json
import os
import unittest

from graftbench import analysis

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "etl_abr_cleaned_pass.json")


def load_fixture():
    with open(FIXTURE) as f:
        return json.load(f)


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        p, v, n = analysis.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_small_sample_moves_the_percentile_down(self):
        p, v, n = analysis.tail_percentile(list(range(1, 13)))
        self.assertEqual((p, v, n), (16, 2, 12))
        self.assertGreaterEqual(sum(1 for x in range(1, 13) if x > v), 10)

    def test_ten_or_fewer_samples_have_no_tail(self):
        self.assertEqual(analysis.tail_percentile(list(range(10))), (None, None, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 5
        self.assertEqual(analysis.tail_percentile(xs), analysis.tail_percentile(sorted(xs)))


def _timed(*latencies):
    return {"ops": [{"latency_s": x} for x in latencies]}


class OpTailTest(unittest.TestCase):
    def test_enough_samples_use_the_percentile_rule(self):
        passes = [_timed(*range(10 * k + 1, 10 * k + 11)) for k in range(4)]  # 1..40
        self.assertEqual(analysis.op_tail(passes), (30, 75, 40))

    def test_few_samples_take_the_median_slowest_operation_of_a_pass(self):
        # three passes of a four-stage DAG: the rule would give p16, below
        # the median; the slowest stage must move the tail instead
        passes = [_timed(1.0, 2.0, 2.5, 4.0), _timed(1.1, 2.1, 2.4, 5.0),
                  _timed(0.9, 1.9, 2.6, 4.5)]
        self.assertEqual(analysis.op_tail(passes), (4.5, None, 12))

    def test_failed_operations_are_left_out(self):
        passes = [_timed(1.0, -1.0), _timed(2.0, 3.0)]
        self.assertEqual(analysis.op_tail(passes), (2.0, None, 3))


class ClassifierTest(unittest.TestCase):
    def test_descriptions(self):
        self.assertEqual(analysis.classify("localCheckpoint at PlanCache.scala:124"), "PlanCache")
        self.assertEqual(analysis.classify("parquet at Pipeline.scala:64"), "Pipeline.write")
        self.assertEqual(analysis.classify("parquet at Sinks.scala:26"), "Pipeline.write")
        self.assertEqual(analysis.classify("count at Pipeline.scala:70"), "Pipeline.recount")
        self.assertEqual(analysis.classify("head at Dedup.scala:88"), "operators")
        self.assertEqual(analysis.classify("save at GraftBench.scala:180"), "sink")
        self.assertEqual(analysis.classify(
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"), "other")

    def test_aqe_jobs_follow_their_sql_execution(self):
        fx = load_fixture()
        cls = analysis.attribute_jobs(fx["jobs"], fx["sql"])
        by_site = list(zip((j["site"] for j in fx["jobs"]), (j["exec"] for j in fx["jobs"]), cls))
        aqe = [(e, c) for s, e, c in by_site if "CompletableFuture" in s]
        self.assertGreaterEqual(len(aqe), 4)
        # execution 14 is the PlanCache build, 16 the re-read count
        self.assertEqual({c for e, c in aqe if e == 14}, {"PlanCache"})
        self.assertEqual({c for e, c in aqe if e == 16}, {"Pipeline.recount"})
        # jobs outside any execution: the input schema read during
        # construction, and the schema read of the re-read
        no_exec = {s: c for s, e, c in by_site if e is None}
        self.assertEqual(no_exec["parquet at Tables.scala:17"], "operators")
        self.assertEqual(no_exec["parquet at Pipeline.scala:70"], "Pipeline.recount")


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [("op", 0, 100, 0), ("sql", 10, 60, 2), ("job", 20, 30, 5),
                 ("job", 25, 40, 5), ("cat", 5, 12, 4)]
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st["job"], 20)       # union of 20..40
        self.assertAlmostEqual(st["cat"], 7)        # 5..12 outranks the sql span
        self.assertAlmostEqual(st["sql"], 60 - 12 - 20)
        self.assertAlmostEqual(st["op"], 100 - 7 - 28 - 20)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_children_are_clipped_to_the_operation(self):
        st = analysis.self_times([("op", 10, 20, 0), ("job", 0, 15, 5)])
        self.assertEqual(st, {"job": 5, "op": 5})

    def test_recorded_pass_accounts_for_the_wall_time(self):
        fx = load_fixture()
        m, ops = analysis.trace_pass(fx["pass"], fx["sql"], fx["jobs"], fx["qe"],
                                     fx["cpus"], dag=True)
        (op,) = ops
        self.assertAlmostEqual(sum(op["self"].values()), op["wall_s"], places=9)
        self.assertLess(m["trace.self_sum_err_s"], 1e-9)
        self.assertEqual(op["PlanCache.builds"], 1)
        self.assertGreater(op["self"]["exec"], 0)
        self.assertGreater(op["Pipeline.write_s"], 0)
        self.assertGreater(op["Pipeline.recount_s"], 0)
        self.assertEqual(op["exec.jobs"], len(fx["jobs"]))
        self.assertEqual(op["catalyst.aqe_updates"], 8)
        # construction ends where the publish write starts
        self.assertAlmostEqual(op["operators.construct_s"], fx["sql"][1]["start"] / 1000.0)


def _op(name, start, end, ok=True, attempts=1):
    return {"name": name, "start": start, "end": end, "ok": ok, "attempts": attempts}


class FailureAccountingTest(unittest.TestCase):
    def record(self, ops):
        return {"peak_rss_kb": 1024, "passes": [
            {"index": 0, "kind": "cold", "traced": False, "start": 0, "end": 4000,
             "ops": [_op("a", 0, 1000), _op("b", 1000, 4000)]},
            {"index": 1, "kind": "timed", "traced": False, "start": 5000, "end": 9000,
             "ops": ops}]}

    def test_failed_retried_and_mismatched_ops(self):
        rec = self.record([_op("a", 5000, 6000, ok=False), _op("b", 6000, 7000, attempts=2),
                           _op("c", 7000, 8000), _op("d", 8000, 9000)])
        m, attempted, failed, info = analysis.end_to_end(rec, oracle_bad={"d"})
        self.assertEqual((attempted, failed), (6, 3))
        self.assertAlmostEqual(info["op_fail_frac"], 0.5)
        lat = [op["latency_s"] for op in rec["passes"][1]["ops"]]
        self.assertEqual(lat, [-1.0, -1.0, 1.0, -1.0])
        # failed operations never count as fast ones
        self.assertEqual(m["op_p50_s"], 1.0)

    def test_missing_and_unexpected_dag_stages_fail(self):
        rec = self.record([dict(_op("a", 5000, 6000), id="1:0"),
                           dict(_op("x", 6000, 7000), id="1:1"),
                           dict(_op("", 7000, 7500, ok=False), id="1:2")])
        analysis.reconcile_dag(rec, ["a", "b", "c"])
        ops = rec["passes"][1]["ops"]
        self.assertEqual([op["name"] for op in ops], ["a", "x", "b", "c"])
        self.assertEqual([op["ok"] for op in ops], [True, False, False, False])
        m, attempted, failed, info = analysis.end_to_end(rec, oracle_bad=set())
        # the cold pass adds a and b, which pass, and c, never published
        self.assertEqual((attempted, failed), (7, 4))

    def test_all_green(self):
        rec = self.record([_op("a", 5000, 6000), _op("b", 6000, 9000)])
        m, attempted, failed, info = analysis.end_to_end(rec, oracle_bad=set())
        self.assertEqual((attempted, failed, info["op_fail_frac"]), (4, 0, 0.0))
        self.assertEqual((m["pass_s"], m["cold_pass_s"], m["op_p50_s"]), (4.0, 4.0, 2.0))


if __name__ == "__main__":
    unittest.main()
