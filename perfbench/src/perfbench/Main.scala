package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM, driven by perfbench/run.py.
  *
  * Set-up (timed as a whole): JVM start, Spark session at local[4],
  * warm-up on an input of another seed, then the run's inputs, built
  * several times (the last build is used). The timed window then issues
  * operations closed-loop — each after the previous one completes —
  * until `--seconds` have passed, and at least `MinOps` (a failed
  * operation ends the window). With `--trace 1` one more operation runs under the span
  * recorder (and, given `--crawl-*` options, the traced crawl section).
  * The run record goes to `--out` as JSON; run.py turns it into
  * metrics.
  */
object Main {
  val Parallelism = 4
  /** A window always holds at least two operations: with one, a run
    * whose first operation overran the window would report that
    * (slower, less warm) operation alone, and such runs would stand
    * apart from runs that fit two.
    */
  val MinOps = 2

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val scratch = Paths.get(o("scratch")).toAbsolutePath
    val (spark, sessionS) = Clock.timed(session(scratch.toString))

    val w: Workload = o("workload") match {
      case "frontier_1host" =>
        new Frontier(spark, seed, o("n").toLong, o("warm-n").toLong, o("warm-passes").toInt)
      case n if n.startsWith("curate") =>
        new Curate(spark, seed, o("queries").split(",").toSeq, o("data"), o("warm-data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def attempt(what: String)(op: => Op): Op = {
      val t0 = System.nanoTime()
      try op catch { case e: Throwable => Op.failed(what, e, Clock.secs(t0)) }
    }
    def traced(op: Tracer => Op): Map[String, Any] = {
      val tr = new Tracer(spark)
      tr.start()
      val result = attempt("traced operation")(op(tr))
      tr.stop()
      result.json ++ Map("trace" -> tr.toJson)
    }

    val warmS = w.warmUp()
    val inputsS = (1 to o.getOrElse("input-reps", "3").toInt).map(_ => w.buildInputs())

    HeapMonitor.start()
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val tw = System.nanoTime()
    do {
      ops += attempt("operation")(w.op(None))
      HeapMonitor.sample()
    } while ((Clock.secs(tw) < seconds || ops.size < MinOps) && ops.last.units.forall(_._2.ok))
    val windowS = Clock.secs(tw)
    val heapMb = HeapMonitor.peakMb

    val tracedOp = if (trace) Some(traced(tr => w.op(Some(tr)))) else None
    // The crawl round loop and snapshot read-back are traced after the
    // frontier pass, in the same JVM, on their own steady-state input.
    val tracedCrawl = o.get("crawl-backlog").filter(_ => trace).map { backlog =>
      val c = new Crawl(spark, seed, backlog.toInt, o("crawl-warm-rounds").toInt,
        o("crawl-traced-rounds").toInt, Files.createDirectories(scratch.resolve("crawls")))
      try { c.warmUp(); c.buildInputs(); traced(c.tracedOp) }
      catch { case e: Throwable => Op.failed("crawl set-up", e, 0.0).json }
    }
    o.get("record").foreach(w.record)

    val record = Map(
      "workload" -> o("workload"), "seed" -> seed, "nproc" -> Runtime.getRuntime.availableProcessors,
      "parallelism" -> Parallelism,
      "setup" -> Map("jvm_s" -> jvmS, "session_s" -> sessionS, "warmup_s" -> warmS,
        "inputs_s" -> inputsS),
      "window_s" -> windowS, "live_heap_peak_mb" -> heapMb,
      "ops" -> ops.map(_.json), "traced" -> tracedOp, "traced_crawl" -> tracedCrawl)
    Files.writeString(Paths.get(o("out")), Json.write(record))
    w.close()
    spark.stop()
  }

  def session(scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Parallelism]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Parallelism)
      .config("spark.default.parallelism", Parallelism)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
