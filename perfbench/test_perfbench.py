"""Tests of the benchmark itself: metric arithmetic, call-site attribution,
and (through the JVM) the output checks.

    python3 perfbench/test_perfbench.py
"""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [40, 10, 30, 20]
        self.assertEqual(metrics.percentile(xs, 0), 10)
        self.assertEqual(metrics.percentile(xs, 100), 40)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 25)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 37)

    def test_single_and_empty(self):
        self.assertEqual(metrics.percentile([7.5], 95), 7.5)
        self.assertTrue(metrics.percentile([], 50) != metrics.percentile([], 50))  # NaN

    def test_supported_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.supported_tail(1000), 99)
        self.assertEqual(metrics.supported_tail(200), 95)
        self.assertEqual(metrics.supported_tail(199), 90)
        self.assertEqual(metrics.supported_tail(100), 90)
        self.assertEqual(metrics.supported_tail(40), 75)
        self.assertEqual(metrics.supported_tail(20), 50)
        self.assertIsNone(metrics.supported_tail(19))


class Ratios(unittest.TestCase):
    def test_ratio_of_nothing_is_zero(self):
        self.assertEqual(metrics.ratio(3, 0), 0.0)
        self.assertEqual(metrics.ratio(3, 4), 0.75)

    def test_uncovered_time(self):
        self.assertEqual(metrics.uncovered_ms(0, 100, []), 100)
        self.assertEqual(metrics.uncovered_ms(0, 100, [(10, 20), (15, 30), (90, 200)]), 70)
        self.assertEqual(metrics.uncovered_ms(0, 100, [(-50, 150)]), 0)
        self.assertEqual(metrics.uncovered_ms(50, 60, [(0, 10), (70, 80)]), 10)


class Attribution(unittest.TestCase):
    def test_innermost_module_frame_wins(self):
        # POST /compact: the server's handler calls PointStore.compact,
        # whose collect() is the action
        site = "\n".join([
            "graft.sources.PointStore.$anonfun$compact$1(PointStore.scala:538)",
            "graft.sources.StoreFs.withWriterLease(StoreFs.scala:120)",
            "graft.sources.PointStore.compact(PointStore.scala:527)",
            "graft.server.QueryServer.$anonfun$start$95(QueryServer.scala:1960)",
        ])
        self.assertEqual(metrics.module_of(site), "sources")

    def test_action_in_benchmark_code_falls_back_to_its_span(self):
        # SparkEntry.queries(...) builds the rollup; the benchmark collects it
        site = "perfbench.ServeMixed.$anonfun$client$3(ServeMixed.scala:190)"
        self.assertEqual(metrics.module_of(site, "operators.query"), "operators")
        self.assertEqual(metrics.module_of(site, "sources.read"), "sources")
        self.assertEqual(metrics.module_of(site, ""), "spark")
        self.assertEqual(metrics.module_of(site, "trace.x"), "spark")
        # a graft frame outranks the span
        self.assertEqual(metrics.module_of(
            "graft.server.QueryServer.$anonfun$start$5(QueryServer.scala:557)", "sources.read"),
            "server")

    def test_functions_counts_stages_running_its_kernels(self):
        stage = [0] * 19
        stage[metrics.S_KERNELS] = "graft_sketch_merge"
        self.assertTrue(metrics.functions_stage(stage))
        stage[metrics.S_KERNELS] = ""
        self.assertFalse(metrics.functions_stage(stage))

    def test_each_module(self):
        for mod, frame in [
            ("server", "graft.server.QueryServer.$anonfun$start$5(QueryServer.scala:561)"),
            ("streaming", "graft.streaming.StreamingPointStore$.run(StreamingPointStore.scala:62)"),
            ("sources", "graft.sources.PointStore.snapshot(PointStore.scala:431)"),
            ("operators", "graft.operators.Merge$.merge(Merge.scala:35)"),
            ("functions", "graft.functions.SketchOps$.sketchMerge(SketchOps.scala:20)"),
        ]:
            self.assertEqual(metrics.module_of(frame), mod)
            self.assertEqual(metrics.module_of("  at " + frame), mod)

    def test_unattributable_goes_to_spark(self):
        self.assertEqual(metrics.module_of(""), "spark")
        self.assertEqual(metrics.module_of(
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:3000)\n"
            "perfbench.ServeMixed.libraryRead(ServeMixed.scala:140)"), "spark")
        self.assertEqual(metrics.module_of("graft.SparkEntry$.entry(SparkEntry.scala:12)"), "spark")
        self.assertEqual(metrics.module_of("graft.Bench$.main(Bench.scala:88)"), "spark")


def raw_run(workload, ops, **extra):
    raw = {"workload": workload, "ops": ops, "measure_s": 10.5, "window_ms": [0, 10000],
           "setup_reps_s": [3.0, 1.0, 2.0],
           "heap_live_mb": 100.0, "failed": 0, "checks": {"final": "ok"}, "cpus": 4,
           "session_s": 5.0, "gen_s": 2.0, "probe_before_s": 0.1, "probe_after_s": 0.1}
    raw.update(extra)
    return raw


class EndToEnd(unittest.TestCase):
    def test_ingest(self):
        ops = [["ingest", 0, 100 * (i + 1), 0, 1, 4000] for i in range(5)]
        ops.append(["ingest", 0, 99999, 0, 0, 4000])  # failed: no latency, no rows
        e = metrics.end_to_end(raw_run("crunch_ingest", ops))
        self.assertEqual(set(e), set(metrics.E2E_UNITS))
        self.assertEqual(e["latency_p50_ms"]["value"], 300)
        self.assertEqual(e["throughput_per_s"]["value"], 2000)
        self.assertEqual(e["setup_s"]["value"], 2.0)

    def test_serve_counts_completed_requests(self):
        ops = [["store", 0, 10, 0, 1, 1]] * 8 + [["query", 0, 500, 0, 1, 1],
                                                 ["write", 0, 50, 0, 0, 1]]
        e = metrics.end_to_end(raw_run("serve_mixed", ops))
        self.assertEqual(e["latency_p50_ms"]["value"], 10)
        self.assertEqual(e["throughput_per_s"]["value"], 0.9)

    def test_throughput_counts_what_ended_in_the_window(self):
        ops = [["store", 0, 10, 0, 1, 1]] * 5 + [["query", 9000, 12000, 0, 1, 1]]
        e = metrics.end_to_end(raw_run("serve_mixed", ops))
        self.assertEqual(e["throughput_per_s"]["value"], 0.5)
        self.assertEqual(len(metrics.durations(ops, "query")), 1)

    def test_warmup_is_attempted_but_not_timed(self):
        ops = [["store", 0, 10, 0, 1, 1]] * 4 + [["warmup", 0, 5000, 0, 0, 1]] * 2
        raw = raw_run("serve_mixed", ops, failed=2)
        e = metrics.end_to_end(raw)
        self.assertEqual(e["latency_p50_ms"]["value"], 10)
        self.assertEqual(e["throughput_per_s"]["value"], 0.4)
        named = {n: v for n, v, _, _ in metrics.named(raw)}
        self.assertAlmostEqual(named["error_ratio"], 2 / 7)

    def test_error_ratio(self):
        ops = [["store", 0, 10, 0, 1, 1]] * 3 + [["store", 0, 10, 0, 0, 1]]
        named = {n: v for n, v, _, _ in metrics.named(raw_run("serve_mixed", ops, failed=1))}
        self.assertEqual(named["error_ratio"], 0.2)  # 1 of 4 requests + 1 final check


class PerLayer(unittest.TestCase):
    def test_server_split_and_spark_attribution(self):
        ops = [["store", 0, 100, 1, 1, 1], ["store", 200, 300, 1, 1, 1],
               ["store", 400, 450, 0, 1, 1]]
        spans = [["server.store", 1, 0, 100], ["server.store", 2, 200, 300],
                 ["sources.read", 1, 100, 160], ["sources.read", 2, 300, 360]]
        stage = [0] * 16
        stage[metrics.S_TASKS] = 4
        stage[metrics.S_EMPTY] = 1
        stage[metrics.S_TASK_MS] = 40.0
        stage[metrics.S_WAIT_MS] = 8.0
        stages = [stage + ["graft.server.QueryServer.x(QueryServer.scala:1)", "",
                           "graft_sketch_merge"],
                  stage + ["", "", ""]]
        jobs = [[0, 10, 60], [1, 210, 230]]
        raw = raw_run("serve_mixed", ops, spans=spans, stages=stages, jobs=jobs,
                      samples={"server.status": [200, 409, 503]},
                      windows=[[0, 1000, 5.0, 2000.0]])
        m = metrics.per_layer(raw)
        self.assertEqual(m["server.store_ms"], 100)
        self.assertEqual(m["server.overhead_ms"], 40)
        self.assertEqual((m["server.status_409"], m["server.status_4xx"],
                          m["server.status_5xx"]), (1, 1, 1))
        self.assertEqual(m["spark.stages_per_op"], 1.0)
        self.assertEqual(m["spark.server.stages_per_op"], 0.5)
        self.assertEqual(m["spark.spark.task_ms_per_op"], 20.0)
        self.assertEqual(m["spark.functions.stages_per_op"], 0.5)
        self.assertEqual(m["spark.functions.task_ms_per_op"], 20.0)
        self.assertEqual(m["spark.empty_task_ratio"], 0.25)
        self.assertEqual(m["spark.task_wait_ms"], 2.0)
        self.assertEqual(m["spark.driver_gap_ms_per_op"], (50 + 80) / 2)
        self.assertEqual(m["spark.cpu_util"], 0.5)
        self.assertEqual(m["trace.overhead_ms"], 50)
        self.assertEqual(m["streaming.cycle_ms"], 0)

    def test_every_listed_metric_is_computed(self):
        import json
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        m = metrics.per_layer(raw_run("crunch_ingest", []))
        self.assertEqual(sorted(names), sorted(m))


class OutputChecks(unittest.TestCase):
    """Runs perfbench.ChecksTest: every check must catch its corrupted input."""

    def test_checks_catch_corruption(self):
        classes, _ = build.build()
        cp = classes + os.pathsep + os.path.join(build.jars_dir(), "*")
        proc = subprocess.run(["java", "-cp", cp, "perfbench.ChecksTest"],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=120)
        out = proc.stdout.decode(errors="replace")
        self.assertEqual(proc.returncode, 0, out)
        self.assertIn("all check tests passed", out)


if __name__ == "__main__":
    unittest.main()
