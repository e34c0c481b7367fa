package graft

import com.fasterxml.jackson.databind.JsonNode
import graft.bench.ReplayBench.PipelineStats
import graft.bench.StageMetrics
import graft.snapshot.SnapshotLog.Json
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Bench protocol units (the scaling phase itself is exercised by the
  * per-round driver run — here the testable seams).
  */
class BenchSpec extends SparkSpec {

  test("runQueries: a throwing query lands in `failed`, never in the timings (VERDICT r4 #6)") {
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(5).toDF("n")
    val planTimeBoom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberately broken")
    val runTimeBoom: (SparkSession, String) => DataFrame = (s, _) => {
      import s.implicits._
      s.range(3).map(i => { if (i >= 0) throw new RuntimeException("executor boom"); i }).toDF("n")
    }
    val (times, failed) = Bench.runQueries(spark, "unused",
      Map("ok" -> good, "boom_plan" -> planTimeBoom, "boom_run" -> runTimeBoom))
    assert(failed == Seq("boom_plan", "boom_run"), failed.toString)
    assert(times.keySet == Set("ok"), times.toString)
    assert(times("ok") > 0.0)
  }

  test("StageMetrics: an exact window sums task CPU, run time and shuffle bytes") {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    // a job with a shuffle, so at least two stages complete
    def job(): Unit = spark.range(1L << 18).groupBy(pmod(col("id"), lit(64))).count()
      .write.format("noop").mode("overwrite").save()
    job()
    // stages that completed before start are never counted
    assert(StageMetrics.start(sc).stop().stages.isEmpty)
    val m = StageMetrics.start(sc)
    job()
    val w = m.stop()
    assert(w.stages.size >= 2, w.toString)
    assert(w.cpuSec > 0.0, s"cpuSec=${w.cpuSec}")
    assert(w.runSec >= w.cpuSec / 64, s"runSec=${w.runSec} cpuSec=${w.cpuSec}")
    assert(w.shuffleBytes > 0, w.toString)
    // nor are stages that complete after stop
    job()
    assert(m.stop() == w)
  }

  test("decompositionJson: identity eff = retire_ratio x slot_util ratio") {
    def stats(wall: Double, cpu: Double) = graft.bench.ReplayBench.PipelineStats(
      100, 50, 40, 10, wall, Map("task_cpu_sec" -> cpu))
    // lo: 2 slots, 26 s wall, 52 CPU (fully busy); hi: 8 slots, 9.378 s
    // wall, 67 CPU — the r7 cpuprobe reading
    val lo = stats(26.005, 52.014)
    val hi = stats(9.378, 67.056)
    val kv = Bench.decompositionJson(lo, hi, 2, 8).properties.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    val rawEff = (lo.wallSec * 2) / (hi.wallSec * 8)
    val recomposed = kv("cpu_retire_ratio") * kv("slot_util_hi") / kv("slot_util_lo")
    assert(math.abs(recomposed - rawEff) < 0.01, s"$recomposed vs $rawEff")
    assert(kv("slot_util_lo") > 0.95 && kv("slot_util_lo") <= 1.05)
    assert(kv("slot_util_hi") > 0.85 && kv("slot_util_hi") < 0.95)
    // missing task CPU on either side: no decomposition fields
    assert(Bench.decompositionJson(stats(1, 0), hi, 2, 8).isEmpty)
  }

  test("selectRep: min task-CPU wins over min wall; wall tie-breaks; CPU-less reps sort last") {
    def stats(wall: Double, cpu: Option[Double]) = graft.bench.ReplayBench.PipelineStats(
      100, 50, 40, 10, wall, cpu.map(c => Map("task_cpu_sec" -> c)).getOrElse(Map.empty))
    // the r7_close3 shape: the min-WALL hi rep was the burned one
    // (81.5 CPU-s vs ~59 nominal) — min-CPU must deselect it
    val burnedFastWall = stats(9.1, Some(81.5))
    val quietSlowerWall = stats(9.4, Some(59.3))
    assert(Bench.selectRep(Seq(burnedFastWall, quietSlowerWall)) eq quietSlowerWall)
    // equal CPU: wall tie-breaks
    val a = stats(9.4, Some(59.3)); val b = stats(9.2, Some(59.3))
    assert(Bench.selectRep(Seq(a, b)) eq b)
    // a rep without a CPU reading never beats one with it
    val noCpu = stats(8.0, None)
    assert(Bench.selectRep(Seq(noCpu, quietSlowerWall)) eq quietSlowerWall)
    // all without CPU: min wall
    assert(Bench.selectRep(Seq(noCpu, stats(8.5, None))) eq noCpu)
  }

  test("canaryBound: floor-relative, capped at 2x nominal") {
    // quiet box at the calibrated nominal: bound IS the nominal
    assert(Bench.canaryBound(1.44, 1.0) == 1.44)
    // host-incarnation drift (r7: floor 1.52 on a provably-quiet box):
    // the measured floor takes over, so retries can converge
    assert(Bench.canaryBound(1.44, 1.52) == 1.52)
    // a floor taken on a loud box can't blind the gate: capped at 2x
    assert(Bench.canaryBound(1.44, 9.0) == 2.88)
  }

  // the r7 cpuprobe pair of the decomposition test, plus one phase mark
  private def leg(wall: Double, cpu: Double) =
    PipelineStats(100, 50, 40, 10, wall, Map("task_cpu_sec" -> cpu, "state_setup" -> 0.5))
  private val sweep = Bench.Sweep(Map("q1" -> 1.25, "q2" -> 0.5), Seq("bad"), Seq(1.4, 1.5),
    contended = false, attempts = 1, floor = 1.3)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  test("emit: full and compact artifacts keep their keys, nesting and digits") {
    val (full, compact) = Bench.emit(
      Bench.Scaling(leg(26.005, 52.014), leg(9.378, 67.056), 2, 8, contended = false),
      sweep, 200.0, "/x/sf")
    // both lines byte-for-byte as the string-built emitter wrote them
    // for these inputs, plus the calibration context before "scaling"
    val cpus = Runtime.getRuntime.availableProcessors
    assert(Json.writeValueAsString(full) ==
      """{"metric":"urls_scheduled_fetched_per_sec","value":9.6,"unit":"urls/sec",""" +
      """"queries":{"q1":1.250,"q2":0.500},"queries_total_sec":1.750,"failed":["bad"],""" +
      """"query_spark_canary":[1.400,1.500],"queries_contended":false,"query_attempts":1,""" +
      """"query_canary_floor":1.300,"ptr_chase_ns":200.0,"sf":"/x/sf","anomalous":false,""" +
      """"contended":false,"cpu_inconsistent":false,"canary_par_nominal":0.150,""" +
      """"ext_cpu_max":1.000,""" +
      s""""host_cpus":$cpus,"spark_canary_nominals":[6.500,1.700],""" +
      """"mem_canary_nominals":[0.050,0.060],"query_canary_nominal":1.440,""" +
      """"scaling":{"local2":{"urls":100,"scheduled":50,"fetched":40,""" +
      """"spans":10,"sec":26.005,"urls_per_sec":3.5,"stages":{"task_cpu_sec":52.014,""" +
      """"state_setup":0.500}},"local8":{"urls":100,"scheduled":50,"fetched":40,"spans":10,""" +
      """"sec":9.378,"urls_per_sec":9.6,"stages":{"task_cpu_sec":67.056,"state_setup":0.500}},""" +
      """"n_lo":2,"n_hi":8,"efficiency":0.693,"slot_util_lo":1.000,"slot_util_hi":0.894,""" +
      """"cpu_retire_ratio":0.776,"slot_efficiency":0.894}}""")
    assert(Json.writeValueAsString(compact) ==
      """{"metric":"urls_scheduled_fetched_per_sec","value":9.6,"unit":"urls/sec",""" +
      """"efficiency":0.693,"slot_efficiency":0.894,"contended":false,"cpu_inconsistent":false,""" +
      """"anomalous":false,"queries_total_sec":1.750,"failed_count":1,"sf":"/x/sf"}""")
  }

  test("emit: an anomalous, contended, CPU-inconsistent pair adds only anomalous_kind") {
    // hi retires the task set in ~2x lo's CPU at 13x lo's rate
    val (full, compact) = Bench.emit(
      Bench.Scaling(leg(26.005, 52.014), leg(2.0, 100.0), 2, 8, contended = true),
      sweep, 200.0, "/x/sf")
    assert(keys(full) == Seq("metric", "value", "unit", "queries", "queries_total_sec",
      "failed", "query_spark_canary", "queries_contended", "query_attempts",
      "query_canary_floor", "ptr_chase_ns", "sf", "anomalous", "anomalous_kind", "contended",
      "cpu_inconsistent", "canary_par_nominal", "ext_cpu_max", "host_cpus",
      "spark_canary_nominals", "mem_canary_nominals", "query_canary_nominal", "scaling"))
    assert(keys(full.get("scaling")) == Seq("local2", "local8", "n_lo", "n_hi", "efficiency",
      "slot_util_lo", "slot_util_hi", "cpu_retire_ratio", "slot_efficiency"))
    Seq("local2", "local8").foreach(l => assert(keys(full.get("scaling").get(l)) ==
      Seq("urls", "scheduled", "fetched", "spans", "sec", "urls_per_sec", "stages")))
    assert(keys(compact) == Seq("metric", "value", "unit", "efficiency", "slot_efficiency",
      "contended", "cpu_inconsistent", "anomalous", "anomalous_kind", "queries_total_sec",
      "failed_count", "sf"))
    Seq(full, compact).foreach { n =>
      assert(n.get("anomalous_kind").asText == "high")
      assert(n.get("contended").asBoolean && n.get("cpu_inconsistent").asBoolean)
    }
  }

  test("emit: an sfDir with quotes and backslashes stays valid JSON") {
    val sf = "/x/\"q\"\\sf"
    val (full, compact) = Bench.emit(
      Bench.Scaling(leg(26.005, 52.014), leg(9.378, 67.056), 2, 8, contended = false),
      sweep, 200.0, sf)
    Seq(full, compact).foreach(n =>
      assert(Json.readTree(Json.writeValueAsString(n)).get("sf").asText == sf))
  }
}
