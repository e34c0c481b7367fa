package graft.streaming

import graft.sched.Scheduler
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming variants of the crawl's stateful behaviors (SURVEY.md
  * §2.9): the batch engine is the primary path (the reference is a
  * batch poller), but the same semantics compose as a Structured
  * Streaming pipeline for a continuously-discovered frontier.
  *
  *  - ST5 late/duplicate data: watermarked stream dedup on the
  *    canonical announcement key (`dropDuplicatesWithinWatermark`,
  *    bounded state — exactly the first-wins seen semantics within
  *    the watermark horizon; the snapshot seen-table anti-join
  *    remains the source of truth across restarts).
  *  - ST1 politeness: per-(host,salt) token bucket carried as
  *    explicit group state in `flatMapGroupsWithState` — the
  *    streaming twin of the batch virtual-tick assignment.
  *  - ST6 per-day tumbling partition: 1-day event-time windows with
  *    watermark-bounded state.
  */
object StreamingCrawl {

  /** ST5: first-wins dedup over a (possibly late) announcement
    * stream. Input must carry `announce_ts` (event time) and
    * `seen_key`. State is bounded by the watermark delay.
    */
  def dedupWithinWatermark(anns: DataFrame, delay: String = "1 day"): DataFrame =
    anns.withWatermark("announce_ts", delay)
      .dropDuplicatesWithinWatermark("seen_key")

  /** ST6: per-day tumbling counts of announcements (the streaming
    * analog of the seed's one-day seDate partition).
    */
  def dailyCounts(anns: DataFrame, delay: String = "1 day"): DataFrame =
    anns.withWatermark("announce_ts", delay)
      .groupBy(window(col("announce_ts"), "1 day"))
      .agg(count(lit(1)).as("n_announcements"))
      .select(col("window.start").as("day"), col("n_announcements"))

  final case class StreamTask(url: String, host: String, priority: Long)

  /** Token-bucket state per (host, salt): the virtual tick the next
    * fetch may run at.
    */
  final case class BucketState(nextTick: Long, usedInTick: Int)

  final case class ScheduledFetch(url: String, host: String, salt: Int,
                                  tick_index: Long, scheduled_ms: Long)

  /** Streaming sink into a [[graft.snapshot.SnapshotLog]]: every
    * micro-batch commits one delta dir through the same atomic
    * manifest-rename protocol as the batch writers, so a streaming
    * frontier feed and the batch crawl share one table format, one
    * resume story and one reader surface (Scala API, DSv2 source,
    * SQL catalog).
    *
    * Exactly-once across restarts WITHOUT a new mechanism: the batch
    * id is recorded in the commit's props; on restart Structured
    * Streaming replays the last unacknowledged batch, and the sink
    * skips any batch id ≤ the last committed one for this query —
    * the manifest IS the sink-side write-ahead log.
    */
  def snapshotSink(stream: DataFrame, root: String, table: String,
                   queryName: String = "stream"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      commitBatch(root, table, queryName)(batch, batchId)
      ()
    }

  /** The foreachBatch body behind [[snapshotSink]], extracted so the
    * exactly-once guard is directly testable (StreamingSpec invokes it
    * twice with one batch id and asserts a single commit — the path a
    * post-restart replay takes).
    *
    * Returns true iff the batch was committed (false = replay skipped).
    */
  private[graft] def commitBatch(root: String, table: String, queryName: String)
                                (batch: DataFrame, batchId: Long): Boolean = {
    val log = new graft.snapshot.SnapshotLog(root)
    log.init()
    commitBatchWith(log, table, queryName)(batch, batchId)
  }

  /** [[commitBatch]] with an injected log — the test seam for the
    * zombie-driver race (the spec arms the zombie log's beforePublish
    * hook to let a live driver commit the same batch id first).
    */
  private[graft] def commitBatchWith(log: graft.snapshot.SnapshotLog,
                                     table: String, queryName: String)
                                    (batch: DataFrame, batchId: Long): Boolean = {
    val batchKey = s"stream_batch:$queryName"
    // stream_batch:* props are STICKY in the commit protocol (every
    // commit carries the parent's forward — SnapshotLog.commit), so
    // the watermark sits right at HEAD whatever interleaves, and
    // survives expiry as long as ANY snapshot survives: `fresh` reads
    // HEAD's prop only.
    //
    // The watermark check is ALSO the commit's precondition, re-checked
    // against the head inside the publish retry loop (ADVICE r5): a
    // zombie/failover driver replaying this batchId concurrently with
    // the live driver can pass the read below on both sides, but only
    // one CREATE_NEW manifest link wins — the loser re-reads the moved
    // head, its precondition sees the winner's watermark, and the
    // commit aborts (returns false) instead of double-publishing.
    def fresh(head: Option[graft.snapshot.SnapshotLog.Snapshot]): Boolean =
      !head.flatMap(_.props.get(batchKey)).exists(_.toLong >= batchId)
    if (!fresh(log.latest())) false
    else
      try {
        log.commit(Map(table -> batch), Map.empty, Map(batchKey -> batchId.toString),
          precondition = fresh)
        true
      } catch {
        case _: graft.snapshot.SnapshotLog.CommitPreconditionFailed => false
      }
  }

  /** ST1 streaming politeness: per micro-batch, each (host, salt)
    * group drains its queue in priority order, continuing from the
    * bucket state left by previous batches. State never grows — it is
    * exactly (nextTick, usedInTick).
    */
  def politenessStream(tasks: Dataset[StreamTask], saltCount: Int, tokensPerTick: Int,
                       tickMs: Long): Dataset[ScheduledFetch] = {
    val spark = tasks.sparkSession
    import spark.implicits._
    tasks
      .groupByKey(t => (t.host, Scheduler.saltOf(t.url, saltCount)))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: (String, Int), rows: Iterator[StreamTask], state: GroupState[BucketState]) => {
          val (host, salt) = key
          var st = state.getOption.getOrElse(BucketState(0L, 0))
          // The sort buffer holds ONE micro-batch's slice of one
          // (host, salt) queue — bounded by the trigger interval, not
          // by the frontier (the batch path's unbounded-group pitfall
          // does not apply; its spillable sort lives in
          // Scheduler.assignVirtualTicksCols). Group STATE stays O(1).
          val out = rows.toArray.sortBy(t => (t.priority, t.url)).map { t =>
            if (st.usedInTick >= tokensPerTick) st = BucketState(st.nextTick + 1, 0)
            val assigned = ScheduledFetch(t.url, host, salt, st.nextTick, st.nextTick * tickMs)
            st = st.copy(usedInTick = st.usedInTick + 1)
            assigned
          }
          state.update(st)
          out.iterator
        })
  }
}
