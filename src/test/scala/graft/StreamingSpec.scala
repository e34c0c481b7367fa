package graft

import graft.streaming.StreamingCrawl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming variants (SURVEY.md §2.9): watermarked first-wins dedup
  * (ST5), per-day tumbling counts (ST6), and the stateful token
  * bucket (ST1) — driven through MemoryStream micro-batches so the
  * cross-batch state behavior is what's under test.
  */
class StreamingSpec extends SparkSpec {

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(f"2024-06-$day%02d $hour%02d:00:00")

  test("ST5: dropDuplicatesWithinWatermark keeps first occurrence across batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Timestamp, String, Long)]
    val df = in.toDF().toDF("announce_ts", "seen_key", "arrival")
    val q = StreamingCrawl.dedupWithinWatermark(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((ts(10, 1), "k1", 1L), (ts(10, 2), "k2", 2L))
      q.processAllAvailable()
      in.addData((ts(10, 3), "k1", 3L), (ts(10, 4), "k3", 4L)) // k1 is a dup
      q.processAllAvailable()
      val got = s.sql("SELECT seen_key, arrival FROM dedup_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("k1" -> 1L, "k2" -> 2L, "k3" -> 4L))
    } finally q.stop()
  }

  test("ST6: 1-day tumbling windows partition the announcement stream") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("announce_ts", "seen_key")
    val q = StreamingCrawl.dailyCounts(df)
      .writeStream.format("memory").queryName("daily_out")
      .outputMode("complete").start()
    try {
      in.addData((ts(10, 1), "a"), (ts(10, 9), "b"), (ts(11, 5), "c"))
      q.processAllAvailable()
      val got = s.sql("SELECT CAST(day AS DATE), n_announcements FROM daily_out").collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(got == Map("2024-06-10" -> 2L, "2024-06-11" -> 1L))
    } finally q.stop()
  }

  test("snapshot sink: per-batch delta commits, idempotent on batch replay") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-sink").toString
    val log = new graft.snapshot.SnapshotLog(root)
    val in = MemoryStream[(String, Long)]
    val q = StreamingCrawl.snapshotSink(
      in.toDF().toDF("url", "n"), root, "feed", queryName = "q1").start()
    try {
      in.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
      in.addData(("c", 3L))
      q.processAllAvailable()
      val snap = log.latest().get
      // one delta dir per micro-batch, same table format as the batch writers
      assert(snap.tables("feed").size == 2)
      assert(log.readTable(s, snap, "feed").get.count() == 3)
      assert(snap.props("stream_batch:q1") == "1")
      // replaying an already-committed batch id must NOT double-commit
      // (restart semantics: Structured Streaming re-runs the last
      // batch) — invoke the SAME foreachBatch body with batch id 1
      val before = log.latest().get.id
      val replayed = StreamingCrawl.commitBatch(root, "feed", "q1")(
        Seq(("a", 1L)).toDF("url", "n"), 1L)
      assert(!replayed, "an already-committed batch id must be skipped")
      assert(log.latest().get.id == before, "replay must not advance the log")
      assert(log.readTable(s, log.latest().get, "feed").get.count() == 3)
      // a batch-side commit interleaving does not break the guard: the
      // sink's batch id is sticky, so it rides the batch commit's HEAD
      log.commit(Map("other" -> Seq(9L).toDF("x")), Map.empty, Map("round" -> "77"))
      in.addData(("d", 4L))
      q.processAllAvailable()
      val after = log.latest().get
      assert(log.readTable(s, after, "feed").get.count() == 4)
      assert(after.props("stream_batch:q1") == "2")
      // the DSv2/SQL surface reads the streamed table like any other
      val viaSource = s.read.format("graft-snapshot")
        .option("root", root).option("table", "feed").load()
      assert(viaSource.count() == 4)
    } finally q.stop()
  }

  test("snapshot sink: exactly-once survives interleaved commits + expiry (sticky watermark)") {
    // The r4 degradation path (ADVICE): non-carrying commits bury the
    // sink's manifest, expiry deletes it, lastCommitted → None, a
    // replayed batch double-commits. stream_batch:* props are now
    // STICKY in SnapshotLog.commit, so the watermark survives both.
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("stream-sink-exp").toString
    val log = new graft.snapshot.SnapshotLog(root)
    assert(StreamingCrawl.commitBatch(root, "feed", "qx")(
      Seq(("a", 1L)).toDF("url", "n"), 0L))
    // three non-sink commits, then expire every manifest the sink wrote
    (1 to 3).foreach { i =>
      log.commit(Map("t" -> Seq(i).toDF("x")), Map.empty, Map("round" -> i.toString))
    }
    log.expireSnapshots(keepLast = 1)
    assert(log.latest().get.props("stream_batch:qx") == "0", "watermark must ride HEAD")
    // a post-restart replay of batch 0 is STILL skipped…
    assert(!StreamingCrawl.commitBatch(root, "feed", "qx")(
      Seq(("a", 1L)).toDF("url", "n"), 0L))
    assert(log.readTable(s, log.latest().get, "feed").get.count() == 1)
    // …and a genuinely new batch commits
    assert(StreamingCrawl.commitBatch(root, "feed", "qx")(
      Seq(("b", 2L)).toDF("url", "n"), 1L))
    assert(log.readTable(s, log.latest().get, "feed").get.count() == 2)
  }

  test("snapshot sink: zombie driver racing a live driver cannot double-commit a batch") {
    // ADVICE r5: the exactly-once guard was check-then-commit — a
    // zombie/failover driver replaying batchId N concurrently with the
    // live driver passes lastCommitted on both sides. The watermark is
    // now ALSO the commit precondition, re-checked against the head
    // inside the publish retry loop: the race loser aborts instead of
    // publishing N twice. Deterministic interleaving via the zombie
    // log's beforePublish seam (fires between manifest render and the
    // CREATE_NEW link).
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("stream-zombie").toString
    val zombieLog = new graft.snapshot.SnapshotLog(root)
    zombieLog.init()
    assert(StreamingCrawl.commitBatchWith(zombieLog, "feed", "qz")(
      Seq(("a", 1L)).toDF("url", "n"), 0L))
    var fired = false
    zombieLog.beforePublish = () => if (!fired) {
      fired = true // the LIVE driver (its own log instance) wins batch 1
      assert(StreamingCrawl.commitBatch(root, "feed", "qz")(
        Seq(("live", 2L)).toDF("url", "n"), 1L))
    }
    val zombieWon = StreamingCrawl.commitBatchWith(zombieLog, "feed", "qz")(
      Seq(("zombie", 2L)).toDF("url", "n"), 1L)
    zombieLog.beforePublish = () => ()
    assert(fired, "the live commit must have interleaved")
    assert(!zombieWon, "the zombie replay must abort, not double-commit")
    val head = zombieLog.latest().get
    assert(head.props("stream_batch:qz") == "1")
    val rows = zombieLog.readTable(s, head, "feed").get
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("a", "live"), s"exactly one batch-1 delta, got $rows")
  }

  test("snapshot maintenance: compactTable collapses HEAD dirs; expiry bounds history") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap-maint").toString
    val log = new graft.snapshot.SnapshotLog(root)
    (1 to 4).foreach { i =>
      log.commit(Map("t" -> Seq((i, s"v$i")).toDF("k", "v")), Map.empty,
        Map("round" -> i.toString))
    }
    val preCompact = log.latest().get
    assert(preCompact.tables("t").size == 4)
    val compacted = log.compactTable(s, "t", targetFiles = 1).get
    assert(compacted.tables("t").size == 1)
    assert(log.readTable(s, compacted, "t").get.count() == 4)
    // history is immutable: time travel to the pre-compaction snapshot
    // still reads the old dirs
    assert(log.readTable(s, log.read(preCompact.id), "t").get.count() == 4)
    // expiry keeps the newest K manifests and garbage-collects every
    // data dir only they referenced
    val (manifests, dirs) = log.expireSnapshots(keepLast = 1)
    assert(manifests == 4, s"expired $manifests")
    assert(dirs == 4, s"deleted $dirs dirs (the 4 pre-compaction deltas)")
    val head = log.latest().get
    assert(head.id == compacted.id)
    assert(log.readTable(s, head, "t").get.count() == 4, "HEAD must survive expiry")
    intercept[Exception] { log.read(preCompact.id) } // time travel now gone — the point
  }

  test("snapshot maintenance: gcOrphanDirs collects aborted-commit orphans, spares live and fresh dirs") {
    // VERDICT r6 #1: a commit aborted AFTER its data writes (zombie
    // precondition abort, crash, 16-loss race give-up) leaves
    // nonce-named dirs referenced by NO manifest — expiry never sees
    // them (it deletes only dirs referenced by EXPIRED manifests), so
    // they leak forever. gcOrphanDirs: unreferenced ∧ older than
    // grace → deleted; referenced or fresh → untouched.
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap-gc").toString
    val log = new graft.snapshot.SnapshotLog(root)
    (1 to 2).foreach { i =>
      log.commit(Map("t" -> Seq((i, s"v$i")).toDF("k", "v")), Map.empty,
        Map("round" -> i.toString))
    }
    // Abort a commit between data write and publish: the precondition
    // passes its entry check (before the writes) and rejects at the
    // publish loop's unconditional re-check (ADVICE r6 high) — exactly
    // the zombie-driver shape that strands a written dir.
    var calls = 0
    intercept[graft.snapshot.SnapshotLog.CommitPreconditionFailed] {
      log.commit(Map("t" -> Seq((9, "orphan")).toDF("k", "v")), Map.empty,
        Map("round" -> "9"), { _ => calls += 1; calls == 1 })
    }
    assert(calls >= 2, "precondition must be re-checked at publish time")
    def tDirs(): Set[String] = {
      val p = java.nio.file.Paths.get(root, "data", "t")
      scala.util.Using.resource(java.nio.file.Files.list(p)) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).toSet
      }
    }
    assert(tDirs().size == 3, "2 committed + 1 orphan dir on disk")
    // inside the grace window nothing is collected (a concurrent
    // committer's fresh dirs look exactly like this orphan)
    assert(log.gcOrphanDirs(graceMs = 3600L * 1000) == 0)
    Thread.sleep(50)
    assert(log.gcOrphanDirs(graceMs = 1) == 1, "exactly the orphan is collected")
    assert(tDirs().size == 2)
    val head = log.latest().get
    assert(head.props("round") == "2", "aborted commit never published")
    assert(log.readTable(s, head, "t").get.count() == 2, "live table intact after GC")
    // idempotent: nothing left to collect
    assert(log.gcOrphanDirs(graceMs = 1) == 0)
    // Liveness must be path-spelling invariant: a maintenance process
    // opening the same log through a DIFFERENT spelling of the root
    // (a symlinked mount here; relative-vs-absolute CWD in
    // production) must not mistake live dirs for orphans — a
    // destructive op comparing absolute-path strings would resolve
    // the manifest-recorded writer spelling and the symlink-listed
    // candidates to disjoint sets and delete every committed table
    // (Path.normalize folds "." and "..", not symlinks).
    val linkRoot = java.nio.file.Files.createTempDirectory("snap-gc-link")
    java.nio.file.Files.delete(linkRoot)
    java.nio.file.Files.createSymbolicLink(
      linkRoot, java.nio.file.Paths.get(root))
    val viaLink = new graft.snapshot.SnapshotLog(linkRoot.toString)
    assert(viaLink.gcOrphanDirs(graceMs = 1) == 0,
      "live dirs must stay live when the log is opened via a symlinked root")
    assert(log.readTable(s, log.latest().get, "t").get.count() == 2)
  }

  test("snapshot publish: no-hardlink ATOMIC_MOVE fallback — single writer succeeds, no tmp leak") {
    // VERDICT r6 #5: the fallback branch had a disclosure but no
    // coverage. Inject both documented no-link signals through the
    // linkFn seam and drive real commits through the fallback.
    val s = spark; import s.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("snap-nolink").toString
    val log = new graft.snapshot.SnapshotLog(root)
    log.linkFn = (_, _) => throw new UnsupportedOperationException("no links here")
    log.commit(Map("t" -> Seq((1, "a")).toDF("k", "v")), Map.empty, Map("round" -> "1"))
    // the FileSystemException("Operation not permitted") variant some
    // mounts throw instead (ADVICE r6) takes the same fallback
    log.linkFn = (link, _) =>
      throw new java.nio.file.FileSystemException(link.toString, null, "Operation not permitted")
    log.commit(Map("t" -> Seq((2, "b")).toDF("k", "v")), Map.empty, Map("round" -> "2"))
    val head = log.latest().get
    assert(head.id == 1L && head.props("round") == "2")
    assert(log.readTable(s, head, "t").get.count() == 2, "both fallback commits readable")
    val leftovers = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(root))) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".snapshot-") && n.endsWith(".tmp")).toSeq
    }
    assert(leftovers.isEmpty, s"temp files must never leak: $leftovers")
  }

  test("snapshot publish: fallback mode HARD-FAILS on a detected concurrent committer") {
    // ADVICE r6: in fallback mode a second writer must be a loud stop,
    // not a warn-and-retry — ATOMIC_MOVE's exists→move window can
    // silently REPLACE the winner's manifest, which is worse than a
    // duplicate. A competing (hard-link-capable) writer lands the
    // contested id via the beforePublish seam; the fallback writer
    // must refuse.
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap-nolink-race").toString
    val fallbackLog = new graft.snapshot.SnapshotLog(root)
    fallbackLog.linkFn = (_, _) => throw new UnsupportedOperationException("no links")
    fallbackLog.beforePublish = () => {
      val winner = new graft.snapshot.SnapshotLog(root) // normal linkFn
      winner.commit(Map("t" -> Seq((1, "winner")).toDF("k", "v")), Map.empty,
        Map("round" -> "w")); ()
    }
    val e = intercept[IllegalStateException] {
      fallbackLog.commit(Map("t" -> Seq((1, "loser")).toDF("k", "v")), Map.empty,
        Map("round" -> "l"))
    }
    assert(e.getMessage.contains("concurrent committer"), e.getMessage)
    val head = fallbackLog.latest().get
    assert(head.props("round") == "w", "the winner's manifest must survive untouched")
  }

  test("ST1: token-bucket state carries across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[StreamingCrawl.StreamTask]
    val out = StreamingCrawl.politenessStream(in.toDS(), saltCount = 1,
      tokensPerTick = 2, tickMs = 300)
    val q = out.writeStream.format("memory").queryName("sched_out")
      .outputMode("append").start()
    try {
      in.addData(
        StreamingCrawl.StreamTask("u1", "h", 1),
        StreamingCrawl.StreamTask("u2", "h", 2),
        StreamingCrawl.StreamTask("u3", "h", 3))
      q.processAllAvailable()
      // batch 1: u1,u2 → tick 0; u3 → tick 1 (bucket of 2/tick)
      in.addData(StreamingCrawl.StreamTask("u4", "h", 4))
      q.processAllAvailable()
      // batch 2 continues from state: tick 1 has 1 slot left → u4 at tick 1
      val got = s.sql("SELECT url, tick_index, scheduled_ms FROM sched_out").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map(
        "u1" -> (0L, 0L), "u2" -> (0L, 0L),
        "u3" -> (1L, 300L), "u4" -> (1L, 300L)))
    } finally q.stop()
  }
}
