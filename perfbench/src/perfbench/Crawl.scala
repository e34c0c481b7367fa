package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.crawl.{CrawlJob, FixtureNet}
import graft.extract.Extract
import graft.gen.Fixtures
import graft.model.{DocTask, ListingTask}
import graft.snapshot.{SnapshotCatalog, SnapshotLog}
import org.apache.spark.sql.SparkSession

/** The crawl round loop and snapshot read-back layers, measured in the
  * traced run of frontier_1host (their own workload, a steady-state
  * crawl, was too noisy between JVMs to carry end-to-end bounds).
  *
  * Input: a snapshot log whose listing is exhausted and whose doc
  * frontier holds a backlog of `backlog` deferred fetch tasks (fixture
  * announcements keyed by the seed that pass F1/F2, one host, their
  * keys already in the seen table). The crawl is driven the way
  * CrawlJob.run and ReplayLoopProbe drive it: `CrawlJob.runRound` on
  * FixtureNet, carrying state from round to round, with the
  * small-batch round Config of the crawl_replay query (4 round shuffle
  * partitions, codegen and AQE off), saltCount 4, tokensPerTick 1 and
  * ticksPerRound 8. Each round re-schedules the backlog and fetches at
  * most 32, so every round does the same work and its time is driver
  * latency and the snapshot commit. Warm-up runs `warmRounds` rounds
  * over another seed's backlog; the input build commits the seed's
  * backlog and runs the log's first round (the only one without a
  * carry); the traced operation is `tracedRounds` further rounds.
  *
  * After the traced rounds a read-back runs over the committed log:
  * CrawlJob.finalReport, SQL over
  * graft.metrics through SnapshotCatalog, and docs ->
  * Extract.extractLongRows. It yields the output checks: every round's
  * committed counters equal its RoundResult totals and reconcile
  * (urls_seen = filtered + dup_dropped + new_unique), and digests of
  * the seen set, results, final report and extracted rows.
  */
final class Crawl(spark: SparkSession, seed: Long, backlog: Int, warmRounds: Int,
                  tracedRounds: Int, scratch: Path) {
  import spark.implicits._

  private val cfg = CrawlJob.Config(
    saltCount = 4, tokensPerTick = 1, ticksPerRound = 8, bloomP = 8,
    roundShufflePartitions = 4, commitFiles = 2,
    roundWholeStageCodegen = false, roundAdaptive = false)
  private val budget = cfg.saltCount * cfg.tokensPerTick * cfg.ticksPerRound
  private var logs = 0
  private var root: String = _
  private var log: SnapshotLog = _
  private var snap: SnapshotLog.Snapshot = _
  private var carry = CrawlJob.Carry()
  private val results = scala.collection.mutable.ArrayBuffer.empty[CrawlJob.RoundResult]

  /** Deferred fetch tasks for the seed: fixture announcements over 6
    * days x 5 exchanges from a seed-chosen start day, first occurrence
    * of each seen key, F1/F2 survivors only.
    */
  private def backlogFor(s: Long, size: Int): Seq[DocTask] = {
    val start = 19680 + math.floorMod(Fixtures.hashKey("crawl-start", s), 300L).toInt
    val years = Seq(2023, 2024).map(_.toString)
    Iterator.from(0).map { i =>
      val ex = i % 5
      val day = start + (i / 5) % 6
      val a = Fixtures.announcement(ex, day, Fixtures.draw(80, "pool", s, i), i.toLong)
      val key = Seq(a.secCode, a.title, a.timeMs.toString, a.timeStr, a.adjunctUrl)
        .filter(_ != null).mkString
      DocTask(Fixtures.UrlBase + a.adjunctUrl, Fixtures.Host, day, a.secCode, 1 + i % 3,
        key, i.toLong, a.secName, a.title, a.timeMs, a.timeStr)
    }.filter { t =>
      (years.exists(t.title.contains) || !t.title.exists(_.isDigit)) &&
        !t.title.contains("摘要") && !t.title.contains("英文版")
    }.distinctBy(_.seenKey).take(size).toSeq
  }

  /** A fresh log holding the seed's backlog as committed prior state. */
  private def newLog(s: Long, size: Int): Unit = {
    logs += 1
    root = scratch.resolve(s"crawl-$logs").toString
    log = new SnapshotLog(root)
    val tasks = backlogFor(s, size)
    snap = log.commit(
      deltas = Map(CrawlJob.SeenTable -> tasks.map(t => (t.seenKey, t.url, t.arrivalSeq))
        .toDF("seen_key", "url", "arrival_seq").coalesce(1)),
      replaced = Map(
        CrawlJob.ListingTable -> spark.emptyDataset[ListingTask].toDF(),
        CrawlJob.DocsFrontierTable -> tasks.toDS().toDF().coalesce(1)),
      props = Map("round" -> "-1", "done" -> "false", "deferred" -> tasks.size.toString))
    carry = CrawlJob.Carry()
    results.clear()
  }

  private def nextRound(): CrawlJob.RoundResult = {
    val r = CrawlJob.runRound(spark, cfg, log, snap, results.size, FixtureNet, carry)
    carry = r.nextCarry
    snap = log.read(r.snapshotId)
    results += r
    r
  }

  def warmUp(): Unit = {
    newLog(seed + 1000003L, backlog)
    (1 to warmRounds).foreach(_ => nextRound())
  }

  /** The seed's backlog log plus its first round, which alone reads the
    * listing and frontier back without a carry; every later round is
    * steady state.
    */
  def buildInputs(): Unit = { newLog(seed, backlog); nextRound() }

  private def exhausted: Boolean = snap.props.get("done").contains("true")

  /** URLs scheduled into the rounds' fetch budget plus URLs fetched. */
  private def urls(rs: Seq[CrawlJob.RoundResult]): Long =
    rs.map(r => r.totals.fetched * 2 + r.totals.invalid).sum

  private def roundUnit(r: CrawlJob.RoundResult): (String, Outcome) = {
    val t = r.totals
    val ok = t.fetched + t.invalid <= budget && t.fetched > 0
    s"round ${r.round}" -> Outcome(ok, if (ok) "" else s"fetched outside (0, $budget]",
      Map("urls_seen" -> t.urlsSeen, "filtered" -> t.filtered, "dup_dropped" -> t.dupDropped,
        "new_unique" -> t.newUnique, "robots_denied" -> t.robotsDenied,
        "fetched" -> t.fetched, "invalid" -> t.invalid, "deferred" -> t.deferred))
  }

  def tracedOp(tr: Tracer): Op = {
    val before = dataFiles()
    val (rs, wall) = Clock.timed {
      tr.span("crawl") {
        (1 to tracedRounds).iterator.takeWhile(_ => !exhausted)
          .map(_ => tr.span("crawl.round")(nextRound())).toList
      }
    }
    val written = dataFiles().diff(before)
    Op(wall, urls(rs), rs.map(roundUnit) :+ readBack(tr),
      Map("rounds" -> rs.size, "data_files" -> written.size,
        "data_bytes" -> written.map(Files.size).sum,
        "data_dirs" -> snap.tables.values.map(_.size).sum))
  }

  private def readBack(tr: Tracer): (String, Outcome) = {
    val (report, sqlRows, longRows) = tr.span("snapshot.readback") {
      val report = tr.span("snapshot.readback.final_report") {
        Digest.of(CrawlJob.finalReport(spark, log, cfg))
      }
      val sqlRows = tr.span("snapshot.readback.metrics_sql") {
        val s = spark.newSession()
        s.conf.set("spark.sql.catalog.graft", classOf[SnapshotCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.root", root)
        s.sql("SELECT round, counter, sum(n) AS n FROM graft.metrics " +
          "WHERE counter NOT LIKE 'stream_new:%' GROUP BY round, counter")
          .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      }
      val longRows = tr.span("snapshot.readback.docs_extract") {
        log.readTable(spark, snap, CrawlJob.DocsTable)
          .map(d => Digest.of(Extract.extractLongRows(d)))
          .getOrElse(Map("rows" -> 0L, "hash" -> "0"))
      }
      (report, sqlRows, longRows)
    }
    def tableDigest(name: String): Map[String, Any] =
      log.readTable(spark, snap, name).map(Digest.of).getOrElse(Map("rows" -> 0L, "hash" -> "0"))
    val problems = results.toSeq.flatMap { r =>
      val t = r.totals
      val sql = (c: String) => sqlRows.getOrElse((r.round, c), 0L)
      val mismatched = Seq("urls_seen" -> t.urlsSeen, "filtered" -> t.filtered,
        "new_unique" -> t.newUnique, "robots_denied" -> t.robotsDenied,
        "fetched" -> t.fetched, "invalid" -> t.invalid, "deferred" -> t.deferred)
        .collect { case (c, v) if sql(c) != v => s"round ${r.round} $c sql=${sql(c)} run=$v" }
      val reconciles = sql("urls_seen") == sql("filtered") + t.dupDropped + sql("new_unique")
      mismatched ++ (if (reconciles) Nil
        else Seq(s"round ${r.round}: urls_seen != filtered + dup_dropped + new_unique"))
    }
    s"readback after round ${results.size - 1}" ->
      Outcome(problems.isEmpty, problems.mkString("; "),
        Map("final_report" -> report, "docs_long_rows" -> longRows,
          "seen" -> tableDigest(CrawlJob.SeenTable),
          "results" -> tableDigest(CrawlJob.ResultsTable)))
  }

  /** Data files under the log's data directory. */
  private def dataFiles(): Seq[Path] = {
    val s = Files.walk(Paths.get(root, "data"))
    try s.filter(p => Files.isRegularFile(p) && {
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }).toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  }
}
