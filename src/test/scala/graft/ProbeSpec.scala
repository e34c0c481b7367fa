package graft

import graft.bench.Probe

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `graft.bench.Probe`'s three modes, each run once on sf0.001 against
  * one cheap query on the shared session, plus the guard that keeps
  * single-use mains from accumulating under `graft.bench` undocumented.
  */
class ProbeSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private val q = "q4_anti_join"

  private def captured(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  test("Probe time: one line per rep") {
    val lines = captured(Probe.time(spark, Seq(q), d, reps = 2))
    val reps = lines.filter(_.matches(s"\\[probe\\] time $q rep[0-9]+ sec=[0-9.]+"))
    assert(reps.size == 2, lines.mkString("\n"))
  }

  test("Probe plan: writes the formatted explain; summary counts the executed plan's exchanges") {
    val out = Files.createTempDirectory("probe-plan")
    val lines = captured(Probe.plan(spark, out.toString, "spec", Seq(q), d))
    val txt = Files.readString(out.resolve(s"${q}_spec.txt"))
    assert(txt.startsWith("== Physical Plan =="), txt.take(200))
    val summary = lines.find(_.startsWith(s"[probe] plan $q: ")).getOrElse(fail(lines.mkString("\n")))
    val exchanges = "exchanges=([0-9]+)".r.findFirstMatchIn(summary).get.group(1).toInt
    val executed = SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString
    assert(exchanges == executed.split("\n").count(_.contains("Exchange")), summary)
    assert(exchanges > 0, summary)
  }

  test("Probe stages: at least one stage line for the warm rep") {
    val lines = captured(Probe.stages(spark, q, d))
    assert(lines.exists(_.startsWith("[probe] stage id=")), lines.mkString("\n"))
    assert(lines.exists(_.startsWith(s"[probe] stages $q warm_wall=")), lines.mkString("\n"))
  }

  test("every main under graft.bench is named in README") {
    val readme = Files.readString(Paths.get("README.md"))
    val mains = Files.list(Paths.get("src/main/scala/graft/bench")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = Files.readString(f)
        // the enclosing object of each `def main` is the last one opened before it
        "def main\\(".r.findAllMatchIn(src).map(m =>
          "object\\s+(\\w+)".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1))
      }.toSeq
    assert(mains.contains("Probe"), mains)
    val undocumented = mains.filterNot(n => s"\\b$n\\b".r.findFirstIn(readme).nonEmpty)
    assert(undocumented.isEmpty,
      s"graft.bench mains missing from README (document or delete them): $undocumented")
  }
}
