package graft.bench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.ColumnBridge

import scala.jdk.CollectionConverters._

/** The bench harness's one stage listener: records every Spark stage
  * that completes inside a window opened by [[StageMetrics.start]] and
  * closed by [[stop]].
  *
  * Both ends wait for the listener bus to empty, so the window is
  * exact: no stage that completed before `start` is counted, and every
  * stage that completed before `stop` is. A fixed sleep or a
  * "stable for two polls" heuristic undercounts exactly when the box
  * is loud (bus lag grows with contention), and an undercounted burned
  * rep would win the bench's min-task-CPU selection.
  */
final class StageMetrics private (sc: SparkContext) extends SparkListener {
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[StageMetrics.Stage]

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    done.add(StageMetrics.Stage(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
      (for (a <- i.submissionTime; b <- i.completionTime) yield (b - a) / 1e3).getOrElse(-1.0),
      m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Waits until every event posted so far has reached this listener,
    * unregisters it and returns the window's stages in id order.
    */
  def stop(): StageMetrics.Window = {
    ColumnBridge.drainListenerBus(sc)
    sc.removeSparkListener(this)
    StageMetrics.Window(done.asScala.toSeq.sortBy(_.id))
  }
}

object StageMetrics {

  /** One completed stage: wall from submission to completion (-1 when
    * either time is missing), summed task CPU and run time, shuffle
    * bytes and spill (memory + disk).
    */
  final case class Stage(id: Int, name: String, tasks: Int, wallSec: Double,
                         cpuSec: Double, runSec: Double, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long)

  /** The stages of one window and their totals. */
  final case class Window(stages: Seq[Stage]) {
    def cpuSec: Double = stages.map(_.cpuSec).sum
    def runSec: Double = stages.map(_.runSec).sum
    def shuffleBytes: Long = stages.map(s => s.shuffleReadBytes + s.shuffleWriteBytes).sum
  }

  /** Opens a window on `sc` once the events already posted have been
    * delivered.
    */
  def start(sc: SparkContext): StageMetrics = {
    ColumnBridge.drainListenerBus(sc)
    val m = new StageMetrics(sc)
    sc.addSparkListener(m)
    m
  }
}
