"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
PER_LAYER = [m["name"] for m in BENCH["per_layer"]]


def span(i, parent, name, start, end, **counts):
    return {"id": i, "parent": parent, "name": name, "start_ms": float(start),
            "end_ms": float(end), "counts": counts}


def stage(i, cpu=1.0, tasks=4, task_sum=4.0, task_max=1.0, shw=0.0, spill=0.0, gc=0.0):
    return {"id": i, "tasks": tasks, "task_s_sum": task_sum, "task_s_max": task_max,
            "cpu_s": cpu, "run_s": cpu, "gc_s": gc, "shuffle_read_mb": shw,
            "shuffle_write_mb": shw, "spill_mb": spill}


def job(i, span_id, start, end, stages):
    return {"id": i, "span": span_id, "start_ms": start, "end_ms": end, "stages": stages}


def record(workload, spans, jobs=(), stages=(), sql=(), extra=None, wall=1.0):
    unit = {"name": "u", "ok": True, "detail": "", "digest": {"rows": 1}}
    op = {"wall_s": 1.0, "urls": 10, "units": [unit], "extra": {}}
    traced = dict(op, wall_s=wall, extra=extra or {},
                  trace={"run_id": "r", "spans": list(spans), "jobs": list(jobs),
                         "stages": list(stages), "sql": list(sql)})
    return {"workload": workload, "seed": 1, "nproc": 4, "parallelism": 4,
            "setup": {"jvm_s": 0.5, "session_s": 2.0, "warmup_s": 10.0,
                      "inputs_s": [1.0, 3.0, 2.0]},
            "window_s": 10.0, "live_heap_peak_mb": 300.0, "ops": [op, op],
            "traced": traced}


FRONTIER_LAYERS = metrics.FRONTIER_LAYERS


def frontier_record():
    spans = [span(0, -1, "pass", 0, 8000)]
    counts = {"seen.first_wins": {"rows_in": 100, "rows_out": 80},
              "seen.bloom_probe": {"probed": 80, "maybe": 20},
              "seen.exact_confirm": {"new_keys": 65, "confirmed_new": 5},
              "sched.robots": {"denied": 4},
              "sched.assign": {"scheduled": 61},
              "fetch": {"docs": 45, "head_probes": 50, "spans": 300},
              "extract": {"rows_out": 30}}
    for i, name in enumerate(FRONTIER_LAYERS, start=1):
        spans.append(span(i, 0, name, i * 1000, i * 1000 + 900, **counts[name]))
    stages = [stage(1, cpu=2.0, shw=3.0), stage(2, cpu=1.0, tasks=4, task_sum=2.0,
                                                task_max=1.0, shw=1.5, spill=0.5)]
    jobs = [job(1, 1, 1100, 1800, [1]), job(2, 5, 5100, 5800, [2])]
    return record("frontier_1host", spans, jobs, stages, wall=8.0)


def crawl_record():
    """A frontier_1host record whose traced run carries the crawl section."""
    spans = [span(0, -1, "crawl", 0, 6000), span(1, 0, "crawl.round", 0, 3000),
             span(2, 0, "crawl.round", 3000, 6000),
             span(3, -1, "snapshot.readback", 6000, 7000),
             span(4, 3, "snapshot.readback.final_report", 6000, 6500),
             span(5, 3, "snapshot.readback.metrics_sql", 6500, 6800),
             span(6, 3, "snapshot.readback.docs_extract", 6800, 7000)]
    jobs = [job(1, 1, 500, 1500, [1]), job(2, 1, 1000, 2000, [2]), job(3, 2, 3500, 4000, [3])]
    stages = [stage(1), stage(2), stage(3)]
    sql = [{"id": 1, "desc": "collect at CrawlJob.scala:676", "start_ms": 500, "end_ms": 1500},
           {"id": 2, "desc": "parquet at SnapshotLog.scala:153", "start_ms": 2000, "end_ms": 2400},
           {"id": 3, "desc": "parquet at SnapshotLog.scala:153", "start_ms": 2200, "end_ms": 2600}]
    extra = {"data_files": 20, "data_bytes": 2000, "data_dirs": 7, "rounds": 2}
    crawl = record("crawl", spans, jobs, stages, sql, extra, wall=6.0)["traced"]
    rec = frontier_record()
    rec["traced_crawl"] = crawl
    return rec


def curate_record():
    c = SPEC["workloads"]["curate_sf001"]
    spans = [span(0, -1, "sweep", 0, 1000 * len(c["queries"]))]
    stages, jobs = [], []
    for i, q in enumerate(c["queries"], start=1):
        spans.append(span(i, 0, "query." + q, (i - 1) * 1000, i * 1000 - 10))
        stages.append(stage(i, shw=float(i)))
        jobs.append(job(i, i, (i - 1) * 1000 + 5, (i - 1) * 1000 + 500, [i]))
    return record("curate_sf001", spans, jobs, stages, wall=float(len(c["queries"])))


class TailPercentile(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(range(1, 101)), (90.0, 90, 100))

    def test_twenty_samples_reach_only_the_median(self):
        self.assertEqual(metrics.tail_percentile(range(1, 21)), (50.0, 10, 20))

    def test_too_few_samples_fall_back_to_median_with_count(self):
        self.assertEqual(metrics.tail_percentile([3.0, 1.0, 2.0]), (50.0, 2.0, 3))
        self.assertEqual(metrics.tail_percentile(range(1, 20)), (50.0, 10, 19))

    def test_ties_at_the_rung_do_not_count_as_beyond(self):
        # p99.9, p99 and p95 land on the 15 tied maxima (nothing strictly above);
        # p90 does too; p75 leaves the 15 ties beyond it
        samples = [1.0] * 85 + [5.0] * 15
        self.assertEqual(metrics.tail_percentile(samples), (75.0, 1.0, 100))

    def test_sample_count_is_reported(self):
        self.assertEqual(metrics.tail_percentile([0.5] * 1000)[2], 1000)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, -1, "p", 0, 100), span(1, 0, "a", 10, 50), span(2, 0, "b", 30, 70)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 0.040)
        self.assertAlmostEqual(st[1], 0.040)
        self.assertAlmostEqual(st[2], 0.040)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, "p", 0, 100), span(1, 0, "a", 80, 150)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 0.080)

    def test_grandchildren_do_not_reduce_the_grandparent(self):
        spans = [span(0, -1, "p", 0, 100), span(1, 0, "a", 0, 50), span(2, 1, "x", 0, 50)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 0.050)
        self.assertAlmostEqual(st[1], 0.0)

    def test_layer_self_times_plus_unattributed_equal_traced_wall(self):
        rec = frontier_record()
        m = metrics.per_layer(rec, PER_LAYER)
        layers = sum(m[n + ".s"] for n in FRONTIER_LAYERS)
        self.assertAlmostEqual(layers + m["trace.unattributed_s"], 8.0)


class JobAttribution(unittest.TestCase):
    def test_group_wins_when_its_span_is_open(self):
        spans = [span(0, -1, "p", 0, 100), span(1, 0, "a", 10, 50)]
        self.assertEqual(metrics.attribute_jobs(spans, [job(7, 0, 20, 30, [])]), {7: 0})

    def test_stale_group_falls_back_to_innermost_open_span(self):
        spans = [span(0, -1, "p", 0, 100), span(1, 0, "a", 10, 50), span(2, 0, "b", 60, 90)]
        self.assertEqual(metrics.attribute_jobs(spans, [job(7, 1, 70, 80, [])]), {7: 2})
        self.assertEqual(metrics.attribute_jobs(spans, [job(8, -1, 500, 600, [])]), {8: None})


class RatioBases(unittest.TestCase):
    def test_frontier_ratios(self):
        m = metrics.per_layer(frontier_record(), PER_LAYER)
        self.assertAlmostEqual(m["seen.bloom_maybe_ratio"], 20 / 80)   # flagged / probed
        self.assertAlmostEqual(m["seen.exact_hit_ratio"], (20 - 5) / 20)  # confirmed seen / flagged
        self.assertAlmostEqual(m["fetch.valid_ratio"], 45 / 50)  # docs / head probes
        self.assertAlmostEqual(m["sched.task_skew"], 1.0 / (2.0 / 4))  # max / mean task
        self.assertAlmostEqual(m["seen.shuffle_mb"], 3.0)
        self.assertAlmostEqual(m["sched.spill_mb"], 0.5)

    def test_slot_util_is_task_cpu_over_wall_times_four_slots(self):
        m = metrics.per_layer(frontier_record(), PER_LAYER)
        self.assertAlmostEqual(m["spark.task_cpu_s"], 3.0)
        self.assertAlmostEqual(m["spark.slot_util"], 3.0 / (8.0 * 4))

    def test_failed_ratio_is_failed_over_attempted(self):
        rec = frontier_record()
        attempted, failed, _ = metrics.outcome(rec, {"u": {"rows": 2}})
        self.assertEqual((attempted, failed), (3, 3))
        self.assertEqual(metrics.ratio(failed, attempted), 1.0)
        self.assertEqual(metrics.ratio(0, 0), 0.0)

    def test_a_failed_traced_operation_still_reports(self):
        rec = crawl_record()
        rec["traced"] = {"wall_s": 1.0, "urls": 0, "extra": {}, "units": [
            {"name": "traced operation", "ok": False, "detail": "boom", "digest": {}}]}
        rec["traced_crawl"]["trace"]["spans"] = rec["traced_crawl"]["trace"]["spans"][:3]
        m = metrics.per_layer(rec, PER_LAYER)
        self.assertEqual(m["seen.first_wins.s"], 0.0)
        self.assertEqual(m["crawl.rounds"], 0.0)
        self.assertEqual(metrics.outcome(rec, None)[1], 1)

    def test_empty_bases_read_zero(self):
        rec = frontier_record()
        for s in rec["traced"]["trace"]["spans"]:
            s["counts"] = {}
        m = metrics.per_layer(rec, PER_LAYER)
        self.assertEqual(m["seen.bloom_maybe_ratio"], 0.0)
        self.assertEqual(m["fetch.valid_ratio"], 0.0)


class CrawlLayer(unittest.TestCase):
    def test_round_metrics(self):
        m = metrics.per_layer(crawl_record(), PER_LAYER)
        self.assertEqual(m["crawl.rounds"], 2.0)
        self.assertAlmostEqual(m["crawl.round_p50_s"], 3.0)
        self.assertEqual(m["crawl.round_tail_pct"], 50.0)
        # round 1: jobs cover 500..2000 -> 1.5 s busy of 3 s; round 2: 0.5 s of 3 s
        self.assertAlmostEqual(m["crawl.driver_s_per_round"], (1.5 + 2.5) / 2)
        self.assertAlmostEqual(m["crawl.jobs_per_round"], 1.5)
        self.assertAlmostEqual(m["crawl.tasks_per_round"], (8 + 4) / 2)
        self.assertAlmostEqual(m["crawl.collect_s_per_round"], 0.5)
        self.assertAlmostEqual(m["crawl.write_s_per_round"], 0.6 / 2)  # overlapping writes once
        self.assertAlmostEqual(m["snapshot.files_per_round"], 10.0)
        self.assertAlmostEqual(m["readback_s"], 1.0)

    def test_traced_crawl_units_are_checked(self):
        self.assertEqual(metrics.outcome(crawl_record(), None)[:2], (4, 0))


class Outcome(unittest.TestCase):
    def test_golden_mismatch_fails_the_unit(self):
        rec = curate_record()
        self.assertEqual(metrics.outcome(rec, {"u": {"rows": 1}})[:2], (3, 0))
        self.assertEqual(metrics.outcome(rec, {"u": {"rows": 9}})[:2], (3, 3))

    def test_without_golden_later_ops_must_match_the_first(self):
        rec = curate_record()
        rec["ops"][1] = json.loads(json.dumps(rec["ops"][1]))
        rec["ops"][1]["units"][0]["digest"] = {"rows": 2}
        self.assertEqual(metrics.outcome(rec, None)[:2], (3, 1))

    def test_units_a_golden_does_not_cover_are_unchecked(self):
        self.assertEqual(metrics.outcome(curate_record(), {"other": {}})[:2], (3, 0))

    def test_a_unit_that_failed_its_own_check_fails(self):
        rec = curate_record()
        rec["traced"]["units"] = [{"name": "u", "ok": False, "detail": "boom", "digest": {}}]
        self.assertEqual(metrics.outcome(rec, None)[:2], (3, 1))


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_equal_benchmark_json(self):
        m = metrics.end_to_end(frontier_record())
        self.assertEqual(set(m), {x["name"] for x in BENCH["end_to_end"]})
        self.assertAlmostEqual(m["setup_s"], 0.5 + 2.0 + 10.0 + 2.0)

    def test_per_layer_names_equal_benchmark_json_on_every_workload(self):
        for rec in (frontier_record(), crawl_record(), curate_record()):
            m = metrics.per_layer(rec, PER_LAYER,
                                  SPEC["workloads"]["curate_sf001"]["shuffle_queries"])
            self.assertEqual(list(m), PER_LAYER)

    def test_every_swept_query_has_its_metrics_declared(self):
        c = SPEC["workloads"]["curate_sf001"]
        m = metrics.per_layer(curate_record(), PER_LAYER, c["shuffle_queries"])
        for q in c["queries"]:
            self.assertIn("query.%s.s" % q, PER_LAYER)
            self.assertGreater(m["query.%s.s" % q], 0.0)
        for q in c["shuffle_queries"]:
            self.assertGreater(m["query.%s.shuffle_mb" % q], 0.0)

    def test_workloads_match_spec(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(SPEC["workloads"]))


class BenchmarkJsonContract(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertTrue(1 <= BENCH["run_seconds"] <= 60)
        self.assertTrue(2 <= len(BENCH["workloads"]) <= 8)
        self.assertTrue(1 <= len(BENCH["per_layer"]) <= 128)
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in BENCH[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for w in BENCH["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))

    def test_bounds_match_spec(self):
        for m in BENCH["end_to_end"]:
            self.assertEqual(m["bound"], SPEC["bounds"][m["name"]])


if __name__ == "__main__":
    unittest.main()
