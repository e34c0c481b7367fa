package graft

import graft.bench.Probe

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `graft.bench.Probe`'s modes, each run once against one cheap query
  * on the shared session (`time`, `plan` and `stages` on sf0.001,
  * `scale` on its own tiny generated corpus), plus two source guards:
  * single-use mains do not accumulate under `graft.bench`
  * undocumented, and library code reads no environment variable.
  * `canary` is not run here: it allocates ~0.8 GB of probe buffers and
  * builds and stops sessions of its own.
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

  test("Probe scale: one tiny run per count, one parseable JSON artifact") {
    val out = Files.createTempDirectory("probe-scale").resolve("scale.json")
    val lines = captured(Probe.scale(spark, Seq(200L, 400L), out.toString, Seq("dedup_exact")))
    assert(lines.count(_.startsWith("[curatescale] n=")) == 2, lines.mkString("\n"))
    val js = graft.snapshot.SnapshotLog.Json.readTree(Files.readString(out))
    assert(js.get("probe").asText == "curate_scale")
    assert(js.get("n_lo").asLong == 200 && js.get("n_hi").asLong == 400, js.toString)
    assert(js.get("spark_canary").size == 2, js.toString)
    val q = js.get("queries").get("dedup_exact")
    assert(q.fieldNames.asScala.toSeq == Seq("sec_lo", "sec_hi", "wall_ratio", "rows_lo",
      "rows_hi", "rows_ratio", "shuffle_mb_lo", "shuffle_mb_hi", "shuffle_ratio",
      "linear_would_be"), js.toString)
    assert(q.get("rows_hi").asLong > q.get("rows_lo").asLong, js.toString)
    assert(q.get("linear_would_be").asDouble == 2.0, js.toString)
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

  test("only the entry points read environment variables") {
    val root = Paths.get("src/main/scala")
    val entryPoints = Set("graft/Bench.scala", "graft/Verify.scala", "graft/bench/Probe.scala")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > entryPoints.size, files)
    val readers = files.filterNot(f => entryPoints(root.relativize(f).toString))
      .filter(f => "sys\\.env|System\\.getenv".r.findFirstIn(Files.readString(f)).nonEmpty)
    assert(readers.isEmpty,
      s"library code reading the environment (take the value as a parameter): $readers")
  }
}
