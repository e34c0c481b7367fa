package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main over the registered queries (`SparkEntry.queries`),
  * one mode per lens:
  *  - `time <q[,q...]> [sfDir] [reps]`: wall per rep (rep1 is cold)
  *    into the noop sink;
  *  - `plan <outDir> <tag> [q,...]`: `.explain("formatted")` to
  *    `<outDir>/<q>_<tag>.txt` (the optimization rounds' before/after
  *    plan evidence) plus a one-line join/exchange/codegen summary;
  *  - `stages <q> [sfDir]`: per-stage wall, task CPU, shuffle
  *    write/read and spill of the warm rep — the byte-level lens the
  *    plan string doesn't give (the r5 lesson: `.explain` looked clean
  *    while the shuffle-byte dump exposed an exchange shipping unread
  *    columns).
  *
  * Usage: runMain graft.bench.Probe <mode> <args...>
  * `sfDir` defaults to the sf0.1 corpus (TESTDATA.md).
  * Env: SPARK_GRAFT_CPUS (default 32) sizes the session;
  *      SPARK_GRAFT_SF_DIR overrides `plan`'s sfDir.
  */
object Probe {
  private val DefaultSf = "/root/testdata/sf0.1"

  /** Time each query `reps` times into the noop sink — the bench's
    * measurement unit (full evaluation, VERDICT r5 #1). One line per rep.
    */
  def time(s: SparkSession, names: Seq[String], sfDir: String, reps: Int): Unit =
    names.foreach { name =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        noop(s, name, sfDir)
        println(f"[probe] time $name rep$i sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        // same between-rep scratch-block release as Bench.runQueries:
        // localCheckpoint blocks are otherwise GC-deferred and would
        // accumulate across reps, skewing the later ones
        release(s)
      }
    }

  /** Write each query's formatted explain to `<outDir>/<q>_<tag>.txt`
    * and print its [[planSummary]].
    */
  def plan(s: SparkSession, outDir: String, tag: String, names: Seq[String],
           sfDir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      // crawl_replay RUNS the whole multi-round loop on construction;
      // this dumps the final-report plan shape only (the loop's
      // per-round plans are covered by the round-debug marks instead).
      val (txt, summary) =
        try {
          val qe = graft.SparkEntry.queries(name)(s, sfDir).queryExecution
          (qe.explainString(FormattedMode), planSummary(qe.executedPlan.toString))
        } catch {
          case e: Throwable =>
            (s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}", "explain failed")
        }
      val path = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.writeString(path, txt)
      println(s"[probe] plan $name: $summary (wrote $path)")
      release(s)
    }
  }

  /** Join, exchange and codegen counts of an executed-plan string, plus
    * the number of scans with non-empty pushed filters.
    */
  private def planSummary(plan: String): String = {
    val lines = plan.split("\n")
    def n(op: String) = lines.count(_.contains(op))
    val pushed = "PushedFilters: \\[[^\\]]*[A-Za-z][^\\]]*\\]".r.findAllIn(plan).size
    s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
      s"shj=${n("ShuffledHashJoin")} exchanges=${n("Exchange")} " +
      s"codegenSpans=${n("WholeStageCodegen")} pushed=$pushed"
  }

  /** Run the query twice (the cold rep — JIT, codegen — is excluded) and
    * print one line per Spark stage of the warm rep, then its wall.
    */
  def stages(s: SparkSession, name: String, sfDir: String): Unit = {
    val listener = new StageListener
    s.sparkContext.addSparkListener(listener)
    try {
      noop(s, name, sfDir)
      Thread.sleep(500) // let the async listener bus drain the cold rep
      listener.recording = true
      val t0 = System.nanoTime()
      noop(s, name, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      listener.recording = false
      listener.lines.forEach(l => println(l))
      println(f"[probe] stages $name warm_wall=$wall%.2f")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private final class StageListener extends SparkListener {
    @volatile var recording = false
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (recording) {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val wall = (for {a <- i.submissionTime; b <- i.completionTime} yield (b - a) / 1e3)
          .getOrElse(-1.0)
        lines.add(f"[probe] stage id=${i.stageId} tasks=${i.numTasks} wall=$wall%.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%.2fs " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1fMB " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.1fMB " +
          f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%.1fMB " +
          i.name.takeWhile(_ != '\n').take(60))
      }
  }

  private def noop(s: SparkSession, name: String, sfDir: String): Unit =
    graft.SparkEntry.queries(name)(s, sfDir).write.format("noop").mode("overwrite").save()

  private def release(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def main(args: Array[String]): Unit = {
    def csv(list: String) = list.split(",").toSeq
    val mode: SparkSession => Unit = args.toList match {
      case "time" :: qs :: rest =>
        time(_, csv(qs), rest.headOption.getOrElse(DefaultSf),
          rest.lift(1).fold(2)(_.toInt))
      case "plan" :: outDir :: tag :: rest =>
        plan(_, outDir, tag,
          rest.headOption.fold(graft.SparkEntry.queries.keys.toSeq.sorted)(csv),
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSf))
      case "stages" :: q :: rest =>
        stages(_, q, rest.headOption.getOrElse(DefaultSf))
      case _ =>
        System.err.println("usage: graft.bench.Probe time <q[,q...]> [sfDir] [reps]" +
          " | plan <outDir> <tag> [q,...] | stages <q> [sfDir]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = graft.Bench.session(cpus, cpus)
    try mode(s) finally s.stop()
  }
}
