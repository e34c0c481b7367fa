package graft.crawl

import graft.SparkSpec
import graft.snapshot.SnapshotLog
import java.nio.file.Files

/** ST4 resumability (SURVEY.md §5.5): stop after k rounds, resume
  * from the snapshot log, and the continuation must produce exactly
  * the tables an uninterrupted run produces — determinism makes the
  * continuation identical, the snapshot layer makes it possible.
  */
class ResumeSpec extends SparkSpec {

  // sketchBroadcastMaxBytes = 0 forces the DISTRIBUTED cogroup probe
  // so the golden resume equality also covers the at-scale probe path
  // (CrawlReplaySpec's default config covers the broadcast path).
  private val cfg = CrawlJob.Config(
    saltCount = 4, tokensPerTick = 3, ticksPerRound = 4, bloomP = 8,
    bloomBits = 1 << 12, sketchBroadcastMaxBytes = 0L, maxRounds = 100)
  private val seeds = CrawlJob.expandSeeds(19810, 19810).filter(_.exchangeRank < 2)

  private def tableRows(root: String, name: String): Set[String] = {
    val log = new SnapshotLog(root)
    val snap = log.latest().get
    log.readTable(spark, snap, name) match {
      case Some(df) => df.collect().map(_.toString).toSet
      case None => Set.empty
    }
  }

  test("kill-after-k-rounds resume equals uninterrupted run") {
    // uninterrupted
    val rootA = Files.createTempDirectory("crawl-uninterrupted").toString
    val fullRounds = CrawlJob.run(spark, seeds, cfg, rootA)
    assert(fullRounds.size >= 3, "fixture must span several rounds")

    // interrupted: run 2 rounds manually, then resume via run()
    val rootB = Files.createTempDirectory("crawl-interrupted").toString
    val logB = new SnapshotLog(rootB)
    logB.init()
    import spark.implicits._
    var snap = logB.commit(
      deltas = Map.empty,
      replaced = Map(
        CrawlJob.ListingTable -> CrawlJob.seedListing(seeds).toDS().toDF(),
        CrawlJob.DocsFrontierTable -> spark.emptyDataset[graft.model.DocTask].toDF()),
      props = Map("round" -> "-1", "done" -> "false"))
    (0 until 2).foreach { r =>
      val rr = CrawlJob.runRound(spark, cfg, logB, snap, r)
      snap = logB.read(rr.snapshotId)
    }
    // "crash" here; a fresh run() resumes from the latest snapshot
    val resumed = CrawlJob.run(spark, seeds, cfg, rootB)
    assert(resumed.head.round == 2, "resume must continue at round 2")

    Seq(CrawlJob.SeenTable, CrawlJob.DocsTable, CrawlJob.ResultsTable).foreach { t =>
      assert(tableRows(rootA, t) == tableRows(rootB, t), s"table $t after resume")
    }
    // identical round traces from the resume point on
    assert(resumed.map(_.totals) == fullRounds.drop(2).map(_.totals))
  }

  test("resume tolerates a legacy frontier schema (pre-payload DocTask)") {
    // A snapshot log written BEFORE the result payload rode on the
    // task: the frontier table lacks (arrivalSeq, company, title,
    // timeMs, timeStr). Resume must analyze and run — legacy rows get
    // typed defaults, not an AnalysisException.
    val root = Files.createTempDirectory("crawl-legacy-frontier").toString
    val log = new SnapshotLog(root)
    log.init()
    import spark.implicits._
    val legacyFrontier = Seq(
      (graft.gen.Fixtures.UrlBase + "19810/0-0001-abcd.pdf",
        graft.gen.Fixtures.Host, 19810, "600001", 1, "k1"))
      .toDF("url", "host", "announceEpochDay", "secCode", "pageDepth", "seenKey")
    log.commit(
      deltas = Map.empty,
      replaced = Map(
        CrawlJob.ListingTable -> spark.emptyDataset[graft.model.ListingTask].toDF(),
        CrawlJob.DocsFrontierTable -> legacyFrontier),
      props = Map("round" -> "0", "done" -> "false"))
    val rounds = CrawlJob.run(spark, seeds, cfg, root)
    assert(rounds.nonEmpty && rounds.last.docsPending == 0,
      "legacy frontier must drain to completion")
    val fetched = rounds.map(_.totals.fetched).sum + rounds.map(_.totals.invalid).sum
    assert(fetched == 1, "the legacy task must be probed")
  }

  test("SnapshotLog views: SQL views over a snapshot + time travel by id") {
    val root = Files.createTempDirectory("crawl-views").toString
    val log: SnapshotLog = new SnapshotLog(root)
    import spark.implicits._
    val s0 = log.commit(
      deltas = Map("t" -> Seq(("a", 1)).toDF("k", "v")),
      replaced = Map.empty, props = Map("round" -> "0", "done" -> "false"))
    val s1 = log.commit(
      deltas = Map("t" -> Seq(("b", 2)).toDF("k", "v")),
      replaced = Map.empty, props = Map("round" -> "1", "done" -> "true"))
    // latest view sees both deltas
    val views = log.registerViews(spark, log.latest().get)
    assert(views == Seq("snap_t"))
    assert(spark.sql("SELECT count(*) FROM snap_t").head.getLong(0) == 2)
    // time travel: the same table as of snapshot 0 has one row
    log.registerViews(spark, log.read(s0.id), prefix = "asof0_")
    assert(spark.sql("SELECT k FROM asof0_t").collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(s1.parent == s0.id)
  }

  test("DSv2 source: format('graft-snapshot') reads tables, time-travels, pushes down") {
    val root = Files.createTempDirectory("crawl-dsv2").toString
    val log = new SnapshotLog(root)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val s0 = log.commit(
      deltas = Map("t" -> Seq(("a", 1), ("b", 5)).toDF("k", "v")),
      replaced = Map.empty, props = Map("round" -> "0", "done" -> "false"))
    log.commit(
      deltas = Map("t" -> Seq(("c", 9)).toDF("k", "v")),
      replaced = Map.empty, props = Map("round" -> "1", "done" -> "true"))
    def read(opts: Map[String, String]) = {
      val r = spark.read.format("graft-snapshot")
        .option("root", root).option("table", "t")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    // latest sees both deltas; registered short name resolves
    assert(read(Map.empty).count() == 3)
    // time travel by snapshot id
    assert(read(Map("asOf" -> s0.id.toString))
      .select("k").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    // the scan is the NATIVE parquet scan: filters push down, columns prune
    val q = read(Map.empty).where(col("v") > 3).select("k")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,3)]"), plan)
    assert("ReadSchema: [^\n]*".r.findFirstIn(plan).exists(s =>
      s.contains("k") && !s.contains("v,")), s"column pruning expected:\n$plan")
    assert(q.collect().map(_.getString(0)).sorted.toSeq == Seq("b", "c"))
    // a missing table errors descriptively at scan build (Spark may
    // wrap the connector's IllegalArgumentException in an
    // AnalysisException — check the message chain)
    val e = intercept[Exception] { read(Map("table" -> "nope")).count() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("absent")), chain(e).mkString(" | "))
  }

  test("DSv2 sink: append/overwrite through format('graft-snapshot') round-trip") {
    val root = Files.createTempDirectory("crawl-dsv2w").toString
    val log = new SnapshotLog(root)
    import spark.implicits._
    def write(df: org.apache.spark.sql.DataFrame, table: String, mode: String): Unit =
      df.write.format("graft-snapshot")
        .option("root", root).option("table", table).mode(mode).save()
    def read(table: String) = spark.read.format("graft-snapshot")
      .option("root", root).option("table", table).load()

    // append to a BRAND-NEW log: first commit creates snapshot 0
    write(Seq(("a", 1), ("b", 2)).toDF("k", "v"), "t", "append")
    val s0 = log.latest().get
    assert(s0.id == 0L && s0.props("writer") == "graft-snapshot-dsv2")
    assert(read("t").collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq ==
      Seq(("a", 1), ("b", 2)))

    // append = delta commit: both dirs compose the table
    write(Seq(("c", 3)).toDF("k", "v"), "t", "append")
    assert(log.latest().get.tables("t").size == 2)
    assert(read("t").count() == 3)
    // the Scala API reads the same bytes (same protocol underneath)
    assert(log.readTable(spark, log.latest().get, "t").get.count() == 3)

    // overwrite = replace commit: one dir, old data gone
    write(Seq(("z", 9)).toDF("k", "v"), "t", "overwrite")
    assert(log.latest().get.tables("t").size == 1)
    assert(read("t").collect().map(_.getString(0)).toSeq == Seq("z"))

    // a second table coexists; writes interop with Scala-API commits
    write(Seq(7L).toDF("n"), "u", "append")
    log.commit(Map("u" -> Seq(8L).toDF("n")), Map.empty, Map("round" -> "x"))
    assert(read("u").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L))
    assert(read("t").collect().map(_.getString(0)).toSeq == Seq("z"))

    // writing into the past is rejected: commits only advance the head
    val e = intercept[Exception] {
      write(Seq(1L).toDF("n"), "u", "append") // warm the path — then asOf:
      Seq(1L).toDF("n").write.format("graft-snapshot")
        .option("root", root).option("table", "u").option("asOf", "0")
        .mode("append").save()
    }
    assert(e.getMessage.contains("asOf"), e.getMessage)
  }

  test("SnapshotCatalog: pure-SQL SELECT / INSERT INTO / VERSION AS OF / SHOW TABLES") {
    val root = Files.createTempDirectory("crawl-cat").toString
    val log = new SnapshotLog(root)
    import spark.implicits._
    val s0 = log.commit(
      deltas = Map("t" -> Seq(("a", 1)).toDF("k", "v")),
      replaced = Map.empty, props = Map("round" -> "0"))
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.snapshot.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat.root", root)

    // SELECT over the latest snapshot
    assert(spark.sql("SELECT k FROM graftcat.t").collect().map(_.getString(0)).toSeq == Seq("a"))
    // INSERT INTO = delta commit through the atomic manifest protocol
    spark.sql("INSERT INTO graftcat.t VALUES ('b', 2)")
    assert(log.latest().get.id == s0.id + 1)
    assert(spark.sql("SELECT count(*) FROM graftcat.t").head.getLong(0) == 2)
    // INSERT into a not-yet-existing table creates it (first commit)
    spark.sql("INSERT INTO graftcat.fresh VALUES (7)")
    assert(spark.sql("SELECT * FROM graftcat.fresh").head.getInt(0) == 7)
    // time travel by snapshot id
    assert(spark.sql(s"SELECT count(*) FROM graftcat.t VERSION AS OF ${s0.id}")
      .head.getLong(0) == 1)
    // SHOW TABLES sees the committed tables
    val shown = spark.sql("SHOW TABLES IN graftcat").collect().map(_.getString(1)).toSet
    assert(shown.contains("t") && shown.contains("fresh"), shown.toString)
    // immutable history: DROP refuses
    val e = intercept[Exception] { spark.sql("DROP TABLE graftcat.t") }
    assert(e.getMessage.toLowerCase.contains("not supported"), e.getMessage)
  }

  test("failed commit settles every in-flight write, keeps prior snapshot, retry works") {
    val root = Files.createTempDirectory("crawl-failcommit").toString
    val log = new SnapshotLog(root)
    log.init()
    import spark.implicits._
    val s0 = log.commit(Map.empty,
      Map("t" -> Seq(("a", 1)).toDF("k", "v")), Map("round" -> "0", "done" -> "false"))
    // a DataFrame whose evaluation throws executor-side
    val poison = spark.range(3).map { i =>
      if (i >= 0) throw new RuntimeException("poison write"); i
    }.toDF("v")
    val ok = Seq(("b", 2)).toDF("k", "v")
    intercept[Exception] {
      log.commit(Map("bad" -> poison, "t" -> ok), Map.empty,
        Map("round" -> "1", "done" -> "false"))
    }
    // prior snapshot intact, no manifest advanced
    assert(log.latest().get.id == s0.id)
    assert(log.readTable(spark, log.latest().get, "t").get.count() == 1)
    // a retry in the same JVM succeeds (no zombie writers racing it —
    // commit awaits every in-flight future before rethrowing)
    val s1 = log.commit(Map("t" -> ok), Map.empty,
      Map("round" -> "1", "done" -> "true"))
    assert(s1.id == s0.id + 1)
    assert(log.readTable(spark, s1, "t").get.count() == 2)
  }

  test("append schema enforcement: mismatched delta fails loudly, everywhere") {
    val root = Files.createTempDirectory("crawl-schema").toString
    val log = new SnapshotLog(root)
    log.init()
    import spark.implicits._
    log.commit(Map("t" -> Seq(("a", 1)).toDF("k", "v")), Map.empty, Map("round" -> "0"))
    // column ORDER is free (parquet resolves by name)…
    log.commit(Map("t" -> Seq((2, "b")).toDF("v", "k")), Map.empty, Map("round" -> "1"))
    assert(log.readTable(spark, log.latest().get, "t").get.count() == 2)
    // …but a missing column, an extra column, and a retyped column all
    // fail BEFORE writing (no orphan delta, manifest not advanced)
    val head = log.latest().get.id
    Seq(
      Seq("x").toDF("k"),                        // missing v
      Seq(("x", 1, true)).toDF("k", "v", "w"),   // extra w
      Seq(("x", 9L)).toDF("k", "v")              // v int → bigint
    ).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        log.commit(Map("t" -> bad), Map.empty, Map("round" -> "2"))
      }
      assert(e.getMessage.contains("schema mismatch"), e.getMessage)
    }
    assert(log.latest().get.id == head, "failed appends must not advance the log")
    // DSv2 append path hits the same gate
    val e2 = intercept[Exception] {
      Seq("x").toDF("k").write.format("graft-snapshot")
        .option("root", root).option("table", "t").mode("append").save()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e2).exists(_.contains("schema mismatch")), chain(e2).mkString(" | "))
    // schema EVOLUTION is the replace commit: allowed, and appends
    // must then match the new signature
    log.commit(Map.empty, Map("t" -> Seq(("z", 9L)).toDF("k", "v")), Map("round" -> "3"))
    log.commit(Map("t" -> Seq(("w", 8L)).toDF("k", "v")), Map.empty, Map("round" -> "4"))
    assert(log.readTable(spark, log.latest().get, "t").get.count() == 2)
    // legacy manifests (no schemas field) still enforce via one footer
    // read: strip the field from HEAD and retry a bad append
    val mPath = java.nio.file.Paths.get(root).toFile.listFiles()
      .filter(_.getName.startsWith("snapshot-")).maxBy(_.getName).toPath
    val js = java.nio.file.Files.readString(mPath)
    java.nio.file.Files.writeString(mPath,
      js.replaceAll(""", "schemas": \{[^}]*\}""", ""))
    assert(log.latest().get.schemas.isEmpty, "legacy manifest fixture must have no schemas")
    val e3 = intercept[IllegalArgumentException] {
      log.commit(Map("t" -> Seq("x").toDF("k")), Map.empty, Map("round" -> "5"))
    }
    assert(e3.getMessage.contains("schema mismatch"), e3.getMessage)
  }

  test("concurrent commits serialize: the manifest race loser rebuilds and retries") {
    val root = Files.createTempDirectory("crawl-race").toString
    import spark.implicits._
    val logA = new SnapshotLog(root)
    val logB = new SnapshotLog(root)
    logA.commit(Map("a" -> Seq(1).toDF("x")), Map.empty, Map("round" -> "0"))
    // deterministically interleave: B commits between A's manifest
    // render and publish, so A loses the id race and must rebuild
    var fired = false
    logA.beforePublish = () => if (!fired) {
      fired = true
      logB.commit(Map("b" -> Seq(2L).toDF("y")), Map.empty, Map("winner" -> "b"))
    }
    val snapA = logA.commit(Map("a" -> Seq(3).toDF("x")), Map.empty, Map("loser" -> "a"))
    logA.beforePublish = () => ()
    assert(fired, "the interleaved commit must have run")
    // BOTH commits survive: B took the contested id, A retried onto
    // the next one and rebuilt its table map over B's head
    val head = logA.latest().get
    assert(head.id == snapA.id && snapA.props("loser") == "a")
    assert(logA.read(head.parent).props("winner") == "b")
    assert(logA.readTable(spark, head, "a").get.count() == 2, "A's delta kept")
    assert(logA.readTable(spark, head, "b").get.count() == 1, "B's delta kept (not dropped)")
  }

  test("resume survives a non-crawl HEAD (maintenance / DSv2 / sink commits)") {
    val root = Files.createTempDirectory("crawl-resume-maint").toString
    val log = new SnapshotLog(root)
    log.init()
    import spark.implicits._
    // crawl 2 rounds, then interleave every non-crawl commit flavor
    var snap = log.commit(
      deltas = Map.empty,
      replaced = Map(
        CrawlJob.ListingTable -> CrawlJob.seedListing(seeds).toDS().toDF(),
        CrawlJob.DocsFrontierTable -> spark.emptyDataset[graft.model.DocTask].toDF()),
      props = Map("round" -> "-1", "done" -> "false"))
    (0 until 2).foreach { r =>
      val rr = CrawlJob.runRound(spark, cfg, log, snap, r)
      snap = log.read(rr.snapshotId)
    }
    log.compactTable(spark, CrawlJob.SeenTable)                       // maintenance
    Seq(7L).toDF("n").write.format("graft-snapshot")                  // DSv2 save
      .option("root", root).option("table", "sidecar").mode("append").save()
    graft.streaming.StreamingCrawl.commitBatch(root, "feed", "q")(    // sink batch
      Seq(("u", 1L)).toDF("url", "n"), 0L)
    // HEAD is a non-crawl commit (the sink's), but round/done are
    // STICKY (ADVICE r5) so the resume cursor rides it
    assert(log.latest().get.props.contains("stream_batch:q"), "HEAD must be the sink commit")
    assert(log.latest().get.props("round") == "1", "sticky round must ride HEAD")
    // ALSO exercise the legacy walk (logs written before stickiness):
    // strip the sticky cursor from the HEAD manifest on disk — run()
    // must then walk the parent chain to the last crawl commit
    val mPath = java.nio.file.Paths.get(root).toFile.listFiles()
      .filter(_.getName.startsWith("snapshot-")).maxBy(_.getName).toPath
    java.nio.file.Files.writeString(mPath,
      java.nio.file.Files.readString(mPath)
        .replaceAll(""""round": "[^"]*", """, "")
        .replaceAll(""""done": "[^"]*", """, ""))
    assert(!log.latest().get.props.contains("round"), "legacy fixture: HEAD must be non-crawl")
    // run() must walk to the last crawl commit and continue at round 2
    val resumed = CrawlJob.run(spark, seeds, cfg, root)
    assert(resumed.nonEmpty && resumed.head.round == 2,
      s"resume must continue at round 2, got ${resumed.headOption.map(_.round)}")
    assert(resumed.last.docsPending == 0, "crawl must drain to completion")
    // the golden equality: same tables as an uninterrupted run
    val rootA = Files.createTempDirectory("crawl-uninterrupted2").toString
    CrawlJob.run(spark, seeds, cfg, rootA)
    Seq(CrawlJob.SeenTable, CrawlJob.DocsTable, CrawlJob.ResultsTable).foreach { t =>
      assert(tableRows(rootA, t) == tableRows(root, t), s"table $t after maintenance resume")
    }
  }

  test("expiry keeping only non-crawl commits preserves the resume cursor (sticky round/done)") {
    // ADVICE r5 (medium): snapshot expiry deletes the crawl commits
    // while later maintenance/sink commits survive at HEAD. Before
    // round/done were sticky, run() walked the (now truncated) chain,
    // found no crawl commit, and silently RESEEDED a finished crawl —
    // frontier replaced, round reset, done=true lost.
    val root = Files.createTempDirectory("crawl-expiry-cursor").toString
    val log = new SnapshotLog(root)
    import spark.implicits._
    val full = CrawlJob.run(spark, seeds, cfg, root)
    assert(full.nonEmpty && log.latest().get.props("done") == "true")
    val seenBefore = tableRows(root, CrawlJob.SeenTable)
    // bury the crawl commits under two non-crawl commits, then expire
    // every crawl manifest
    log.compactTable(spark, CrawlJob.SeenTable)
    graft.streaming.StreamingCrawl.commitBatch(root, "feed", "qe")(
      Seq(("u", 1L)).toDF("url", "n"), 0L)
    log.expireSnapshots(keepLast = 2)
    val head = log.latest().get
    assert(!head.props.contains("urls_seen"), "fixture: crawl commits must be expired")
    assert(head.props("round") == full.last.round.toString && head.props("done") == "true",
      "sticky cursor must survive expiry")
    // resume is a no-op (done), NOT a reseed
    val resumed = CrawlJob.run(spark, seeds, cfg, root)
    assert(resumed.isEmpty, "a finished crawl must not re-run after expiry")
    assert(tableRows(root, CrawlJob.SeenTable) == seenBefore, "seen set must be untouched")
  }

  test("runRound isolates session conf: concurrent round configs, caller session untouched") {
    // VERDICT r5 #6: rounds with conf overrides run on
    // spark.newSession() — the caller's session is never mutated, so
    // two crawls with DIFFERENT override sets can run concurrently on
    // one SparkSession (the old mutate-and-restore block raced: one
    // round's restore clobbered the other's override for whole-round
    // windows). A watcher thread polls the caller session's conf the
    // entire time; any drift fails the test.
    val cfgA = cfg.copy(roundShufflePartitions = 3,
      roundWholeStageCodegen = false, roundAdaptive = false)
    val cfgB = cfg.copy(roundShufflePartitions = 5)
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.codegen.wholeStage", "spark.sql.adaptive.enabled")
    val initial = keys.map(k => k -> spark.conf.get(k)).toMap
    @volatile var drift: Option[String] = None
    @volatile var watching = true
    val watcher = new Thread(() => while (watching) {
      keys.foreach { k =>
        val v = spark.conf.get(k)
        if (v != initial(k) && drift.isEmpty) drift = Some(s"$k changed to $v")
      }
      Thread.sleep(2)
    })
    watcher.start()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rootA = Files.createTempDirectory("crawl-iso-a").toString
    val rootB = Files.createTempDirectory("crawl-iso-b").toString
    val (ra, rb) = try {
      val fa = Future(CrawlJob.run(spark, seeds, cfgA, rootA))
      val fb = Future(CrawlJob.run(spark, seeds, cfgB, rootB))
      (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
    } finally { watching = false; watcher.join() }
    assert(drift.isEmpty, s"caller session conf mutated: $drift")
    // conf knobs change plan shape only — results must be identical
    assert(ra.map(_.totals) == rb.map(_.totals), "both crawls must produce equal traces")
    Seq(CrawlJob.SeenTable, CrawlJob.DocsTable, CrawlJob.ResultsTable).foreach { t =>
      assert(tableRows(rootA, t) == tableRows(rootB, t), s"table $t concurrent-config parity")
    }
  }

  test("runRound's isolated session is cached per caller and inherits runtime conf") {
    // ADVICE r6: (a) a newSession() per runRound call registers one
    // ExecutionListenerBus per call on the shared context bus — a
    // caller looping runRound leaked listeners round after round; one
    // cached isolated session per caller session bounds the fan-out.
    // (b) newSession() seeds SQLConf from the context's SparkConf, so
    // the caller's runtime spark.conf.set values were silently dropped
    // inside the round — the isolated session now copies the caller's
    // runtime view (modulo the per-round knobs the config overrides).
    val caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    caller.conf.set("spark.sql.autoBroadcastJoinThreshold", "12345678")
    val cfgA = cfg.copy(roundAdaptive = false)
    val iso1 = CrawlJob.roundSession(caller, cfgA)
    val iso2 = CrawlJob.roundSession(caller, cfgA)
    assert(iso1 eq iso2, "one isolated session per caller, reused across rounds")
    assert(!(iso1 eq caller), "the round session must not BE the caller")
    assert(iso1.conf.get("spark.sql.session.timeZone") == "America/New_York")
    assert(iso1.conf.get("spark.sql.autoBroadcastJoinThreshold") == "12345678")
    // distinct callers get distinct isolated sessions
    val other = spark.newSession()
    assert(!(CrawlJob.roundSession(other, cfgA) eq iso1))
  }

  test("sequential runRound calls with different configs do not leak knobs through the cached session") {
    // The isolated round session is cached across runRound calls, so
    // a knob overridden by an earlier cfg must not reach a later cfg
    // that leaves it at default, or cfgA's adaptive=false would
    // silently apply to cfgB's rounds: the later cfg's knobs are the
    // caller's values.
    val caller = spark.newSession()
    val root = Files.createTempDirectory("crawl-knobs").toString
    val log = new SnapshotLog(root)
    log.init()
    import spark.implicits._
    var snap = log.commit(
      deltas = Map.empty,
      replaced = Map(
        CrawlJob.ListingTable -> CrawlJob.seedListing(seeds).toDS().toDF(),
        CrawlJob.DocsFrontierTable -> spark.emptyDataset[graft.model.DocTask].toDF()),
      props = Map("round" -> "-1", "done" -> "false"))
    val cfgA = cfg.copy(roundShufflePartitions = 3,
      roundWholeStageCodegen = false, roundAdaptive = false)
    val rr = CrawlJob.runRound(caller, cfgA, log, snap, 0)
    snap = log.read(rr.snapshotId)
    val isoA = CrawlJob.roundSession(caller, cfgA)
    assert(isoA.conf.get("spark.sql.adaptive.enabled") == "false")
    // cfgB overrides only the partition count; the other two knobs
    // must come back to the CALLER's values, not cfgA's leftovers
    val cfgB = cfg.copy(roundShufflePartitions = 5)
    CrawlJob.runRound(caller, cfgB, log, snap, 1)
    val iso = CrawlJob.roundSession(caller, cfgB)
    assert(iso.conf.get("spark.sql.shuffle.partitions") == "5")
    assert(iso.conf.get("spark.sql.adaptive.enabled") ==
      caller.conf.get("spark.sql.adaptive.enabled"))
    assert(iso.conf.get("spark.sql.codegen.wholeStage") ==
      caller.conf.get("spark.sql.codegen.wholeStage", "true"))
  }

  test("roundSession: the caller without overrides, one session per override set, re-synced per call") {
    val caller = spark.newSession()
    // no overrides: the round runs on the caller itself
    assert(CrawlJob.roundSession(caller, cfg) eq caller)
    // one cached session per override set; the other Config fields do
    // not take part in the key
    val cfgA = cfg.copy(roundShufflePartitions = 3, roundAdaptive = false)
    val cfgB = cfg.copy(roundShufflePartitions = 5)
    val cfgC = cfg.copy(roundWholeStageCodegen = false)
    val a = CrawlJob.roundSession(caller, cfgA)
    assert(CrawlJob.roundSession(caller, cfgA) eq a)
    assert(CrawlJob.roundSession(caller, cfgA.copy(maxRounds = 7, saltCount = 2)) eq a)
    val sessions = Seq(a, CrawlJob.roundSession(caller, cfgB), CrawlJob.roundSession(caller, cfgC))
    assert(sessions.combinations(2).forall { case Seq(x, y) => !(x eq y) },
      "different override sets must get different sessions")
    assert(sessions.forall(x => !(x eq caller)), "an override session must not BE the caller")
    // caller changes made after the session was created reach the next
    // call; the overridden keys keep cfgA's values
    caller.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    caller.conf.set("spark.sql.shuffle.partitions", "11")
    caller.conf.set("spark.sql.adaptive.enabled", "true")
    caller.conf.set("spark.sql.codegen.wholeStage", "false")
    val a2 = CrawlJob.roundSession(caller, cfgA)
    assert(a2 eq a)
    assert(a2.conf.get("spark.sql.session.timeZone") == "Asia/Shanghai")
    assert(a2.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(a2.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(a2.conf.get("spark.sql.adaptive.enabled") == "false")
    // a key the caller unsets is unset in the round session too
    caller.conf.unset("spark.sql.codegen.wholeStage")
    assert(CrawlJob.roundSession(caller, cfgA).conf.get("spark.sql.codegen.wholeStage") ==
      caller.conf.get("spark.sql.codegen.wholeStage"))
    // and the caller never sees an override
    assert(caller.conf.get("spark.sql.shuffle.partitions") == "11")
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("torn manifest write does not corrupt the log (atomic commit)") {
    val root = Files.createTempDirectory("crawl-torn").toString
    val log = new SnapshotLog(root)
    log.init()
    import spark.implicits._
    val s0 = log.commit(Map.empty,
      Map("t" -> Seq(("a", 1)).toDF("k", "v")), Map("round" -> "0", "done" -> "false"))
    // simulate a crash mid-commit: data dir written, manifest absent
    Seq(("b", 2)).toDF("k", "v").write.mode("overwrite")
      .parquet(s"$root/data/t/s99")
    val latest = log.latest().get
    assert(latest.id == s0.id, "orphan data dirs must be invisible")
    assert(log.readTable(spark, latest, "t").get.count() == 1)
  }
}
