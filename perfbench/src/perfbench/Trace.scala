package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Span recorder for one traced operation.
  *
  * `span(name)` wraps a call into a layer: it records name, start, end
  * and parent, and tags every Spark job started inside it with a job
  * group naming the span. As a `SparkListener` registered on the
  * context (so jobs of any session, including the crawl's isolated
  * round session, are seen) it keeps per-job times, per-stage task
  * metrics and SQL-execution start/end events. Everything stays in
  * memory until `toJson`; attributing stages to spans and computing
  * self times happens on the reading side (perfbench/metrics.py).
  *
  * Times are epoch milliseconds with sub-millisecond precision, taken
  * from one monotonic clock anchored at construction, so span times and
  * listener event times (epoch ms) share an axis.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6

  private final class SpanRec(val id: Int, val parent: Int, val name: String,
                              val startMs: Double) {
    var endMs: Double = Double.NaN
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var open = List.empty[SpanRec]

  // only the group id: setJobGroup would also set the job description,
  // which then replaces the call site in SQL-execution descriptions
  private val JobGroup = "spark.jobGroup.id"
  private def group(s: SpanRec): String = s"$runId:${s.id}"

  def span[A](name: String)(body: => A): A = {
    val s = new SpanRec(spans.size, open.headOption.map(_.id).getOrElse(-1), name, nowMs)
    spans += s
    open = s :: open
    sc.setLocalProperty(JobGroup, group(s))
    try body
    finally {
      s.endMs = nowMs
      open = open.tail
      sc.setLocalProperty(JobGroup, open.headOption.map(group).orNull)
    }
  }

  /** Records a count at the innermost open span's boundary. */
  def count(key: String, v: Double): Unit = open.head.counts(key) = v

  // ---- listener side (runs on the listener-bus thread) -------------
  private final class JobRec(val id: Int, val group: String, val startMs: Long,
                             val stages: Seq[Int]) {
    var endMs: Long = -1L
  }
  private final class StageRec(val id: Int) {
    var tasks = 0L; var durMsSum = 0L; var durMsMax = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shReadB = 0L; var shWriteB = 0L; var spillB = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val sqlExecs = mutable.LinkedHashMap.empty[Long, (String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new JobRec(e.jobId, g, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    val d = e.taskInfo.duration
    s.tasks += 1; s.durMsSum += d; s.durMsMax = math.max(s.durMsMax, d)
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
      s.shReadB += m.shuffleReadMetrics.totalBytesRead
      s.shWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlExecs(s.executionId) = (Option(s.description).getOrElse(""), s.time, -1L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlExecs.get(s.executionId).foreach { case (d, st, _) =>
        sqlExecs(s.executionId) = (d, st, s.time) }
    }
    case _ =>
  }

  def start(): Unit = sc.addSparkListener(this)

  def stop(): Unit = {
    org.apache.spark.perfbench.BusAccess.drain(sc)
    sc.removeSparkListener(this)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "run_id" -> runId,
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts)
      },
      "jobs" -> jobs.values.map { j =>
        val sp = Option(j.group).filter(_.startsWith(runId + ":"))
          .map(_.drop(runId.length + 1).toInt).getOrElse(-1)
        Map("id" -> j.id, "span" -> sp, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages)
      },
      "stages" -> stages.values.map { s =>
        Map("id" -> s.id, "tasks" -> s.tasks, "task_s_sum" -> s.durMsSum / 1e3,
          "task_s_max" -> s.durMsMax / 1e3, "cpu_s" -> s.cpuNs / 1e9,
          "run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
          "shuffle_read_mb" -> s.shReadB / 1048576.0,
          "shuffle_write_mb" -> s.shWriteB / 1048576.0,
          "spill_mb" -> s.spillB / 1048576.0)
      },
      "sql" -> sqlExecs.map { case (id, (d, st, en)) =>
        Map("id" -> id, "desc" -> d, "start_ms" -> st, "end_ms" -> en)
      })
  }
}

/** Largest heap still in use after a full collection, over a window:
  * `sample()` runs one explicit collection and records the heap pools'
  * usage right after it. The window samples once after every operation
  * (outside its timing), so the figure is what each operation leaves
  * live — cached inputs, persisted state, driver-side structures — and
  * does not depend on when the collector happened to run.
  */
object HeapMonitor {
  private var peak = 0L

  def start(): Unit = peak = 0L

  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / 1048576.0
}
