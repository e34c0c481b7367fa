package graft.crawl

import graft.SparkSpec
import graft.gen.Fixtures
import graft.model.Span
import java.nio.file.Files

/** Seed-list replay golden tests (SURVEY.md §5.1-§5.2, the north
  * rule's verification): the distributed crawl must equal the
  * collections oracle on
  *   (a) the per-round scheduled fetch batches (frontier order),
  *   (b) the final URL-seen set,
  *   (c) per-row span-sequence equality (kind, text, media_ref, order)
  *       for every fetched document,
  *   (d) lineage-counter reconciliation,
  *   (e) the final postprocessed report.
  */
class CrawlReplaySpec extends SparkSpec {

  // tight politeness budget (4 salts × 2 tokens × 1 tick = 8 fetches
  // per host per round) so deferral is exercised
  private lazy val cfg = CrawlJob.Config(
    saltCount = 4, tokensPerTick = 2, ticksPerRound = 1, bloomP = 8,
    bloomBits = 1 << 12, maxRounds = 100)
  // 2 exchanges × 2 days × 2 categories = 8 seeds
  private lazy val seeds = CrawlJob.expandSeeds(19800, 19801)
    .filter(_.exchangeRank < 2)

  private lazy val root = Files.createTempDirectory("crawl-replay").toString
  private lazy val jobRounds = CrawlJob.run(spark, seeds, cfg, root)
  private lazy val oracle = CrawlOracle.run(seeds, cfg)
  private lazy val log = new graft.snapshot.SnapshotLog(root)

  test("replay terminates with work done") {
    assert(jobRounds.nonEmpty)
    assert(jobRounds.last.listingPending == 0 && jobRounds.last.docsPending == 0)
    assert(jobRounds.map(_.totals.fetched).sum > 0)
    assert(jobRounds.map(_.totals.robotsDenied).sum > 0, "fixture must exercise robots")
    assert(jobRounds.map(_.totals.deferred).sum > 0, "fixture must exercise deferral")
    assert(jobRounds.map(_.totals.dupDropped).sum > 0, "fixture must exercise dups")
  }

  test("per-round totals and fetch batches equal the oracle (frontier order)") {
    assert(jobRounds.size == oracle.rounds.size)
    jobRounds.zip(oracle.rounds).foreach { case (j, o) =>
      assert(j.totals == o.totals, s"round ${j.round} totals")
    }
    // batch membership per round — the scheduled-fetch sequence
    val snap = log.latest().get
    val fetchedByRound = log.readTable(spark, snap, CrawlJob.DocsTable).get
      .select("doc_id", "fetch_round").collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getString(0)).toSet).toMap
    oracle.rounds.foreach { o =>
      assert(fetchedByRound.getOrElse(o.round, Set.empty) == o.fetchedUrls,
        s"round ${o.round} fetch batch")
    }
  }

  test("final URL-seen set equals the oracle's") {
    val snap = log.latest().get
    val seen = log.readTable(spark, snap, CrawlJob.SeenTable).get
      .select("seen_key").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen)
  }

  test("span-sequence equality (kind, text, media_ref, order) per fetched doc") {
    val snap = log.latest().get
    val docs = log.readTable(spark, snap, CrawlJob.DocsTable).get
    import org.apache.spark.sql.Row
    val got: Map[String, Seq[Span]] = docs.collect().map { r =>
      val spans = r.getSeq[Row](r.fieldIndex("spans")).map { s =>
        Span(s.getString(0), s.getString(1), s.getString(2), s.getInt(3))
      }
      r.getString(r.fieldIndex("doc_id")) -> spans
    }.toMap
    assert(got.keySet == oracle.fetchedDocs.keySet)
    got.foreach { case (id, spans) =>
      assert(spans == oracle.fetchedDocs(id).spans, s"doc $id span sequence")
    }
  }

  test("lineage counters reconcile globally and match the metrics table") {
    val t = jobRounds.map(_.totals)
    val urlsSeen = t.map(_.urlsSeen).sum
    val filtered = t.map(_.filtered).sum
    val dups = t.map(_.dupDropped).sum
    val newUnique = t.map(_.newUnique).sum
    // urls_seen fully accounted for
    assert(urlsSeen == filtered + dups + newUnique)
    // every unique URL was fetched, rejected by validation, or
    // robots-denied (frontier drained)
    assert(newUnique == t.map(_.fetched).sum + t.map(_.invalid).sum +
      t.map(_.robotsDenied).sum)
    assert(t.map(_.invalid).sum > 0, "fixture must exercise fetch validation")

    // per-partition metrics table sums to the same totals
    val snap = log.latest().get
    val m = log.readTable(spark, snap, CrawlJob.MetricsTable).get
      .groupBy("counter").sum("n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("urls_seen") == urlsSeen)
    assert(m("fetched") == t.map(_.fetched).sum)
    assert(m("invalid") == t.map(_.invalid).sum)
    assert(m("robots_denied") == t.map(_.robotsDenied).sum)
    assert(m("filtered") == filtered)
    assert(m.getOrElse("deferred", 0L) == t.map(_.deferred).sum)
  }

  test("final postprocessed report equals the oracle postprocess") {
    val got = CrawlJob.finalReport(spark, log, cfg).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2),
        r.getDate(3).toLocalDate.toEpochDay.toInt, r.getString(4))
    }.toSet
    val want = CrawlOracle.finalReport(oracle.results).toSet
    assert(got == want)
  }

  test("O4 page-growth guards: raw-empty break, overshoot +3, soft stop, empty-run, cap") {
    val cfg2 = CrawlJob.Config(maxPagesCap = 10)
    val t = graft.model.ListingTask(0, "sse", 19800, "annual", page = 1, emptyRun = 0)
    // normal growth resets the empty-run counter
    assert(CrawlJob.nextListingTask(t.copy(emptyRun = 2), 30, 12, 5, cfg2)
      .contains(t.copy(page = 2, emptyRun = 0)))
    // a RAW-empty page stops the stream immediately, anywhere — the
    // reference breaks on an empty announcements list (:283-289)
    assert(CrawlJob.nextListingTask(t, 0, 0, 5, cfg2).isEmpty)
    assert(CrawlJob.nextListingTask(t.copy(page = 6), 0, 0, 5, cfg2).isEmpty)
    // totalpages is NOT a hard stop: overshoot continues past it...
    assert(CrawlJob.nextListingTask(t.copy(page = 5), 7, 7, 5, cfg2)
      .contains(t.copy(page = 6, emptyRun = 0)))
    assert(CrawlJob.nextListingTask(t.copy(page = 7), 4, 4, 5, cfg2)
      .contains(t.copy(page = 8, emptyRun = 0)))
    // ...but hard-stops after totalpages+3 even when rows still flow
    assert(CrawlJob.nextListingTask(t.copy(page = 8), 9, 9, 5, cfg2).isEmpty)
    // FILTERED-empty (rows served, all dedup-dropped): past-end soft
    // stop after 2 consecutive such pages...
    assert(CrawlJob.nextListingTask(t.copy(page = 6, emptyRun = 1), 5, 0, 5, cfg2).isEmpty)
    // ...but a single all-dropped page past the end keeps paging
    assert(CrawlJob.nextListingTask(t.copy(page = 6), 5, 0, 5, cfg2)
      .contains(t.copy(page = 7, emptyRun = 1)))
    // totalpages=0: page 1 only (reference :258-261)
    assert(CrawlJob.nextListingTask(t, 12, 12, 0, cfg2).isEmpty)
    // pre-end empty-run limit (3) stops a mid-stream all-dropped run
    assert(CrawlJob.nextListingTask(t.copy(emptyRun = 1), 20, 0, 9, cfg2)
      .contains(t.copy(page = 2, emptyRun = 2)))
    assert(CrawlJob.nextListingTask(t.copy(emptyRun = 2), 20, 0, 9, cfg2).isEmpty)
    // hard page cap (reference: max_pages_limit=500)
    assert(CrawlJob.nextListingTask(t.copy(page = 10), 30, 30, 99, cfg2).isEmpty)
  }

  test("O4 overshoot recovers rows the claimed totalpages would drop") {
    // at least one fixture stream must BOTH survive to its claimed end
    // (no raw-empty break before totalpages) and then serve rows on
    // page totalpages+1 — i.e. the overshoot actually recovers rows
    val recovered = for {
      ex <- 0 until 2; day <- 19800 to 19801; cat <- Fixtures.Categories
      tp = Fixtures.totalPages(ex, day, cat)
      if tp > 0
      if (1 to tp).forall(p => Fixtures.rowsOnPage(ex, day, cat, p) > 0)
    } yield Fixtures.rowsOnPage(ex, day, cat, tp + 1)
    assert(recovered.sum > 0, "fixtures must exercise the lying-totalpages path")
  }

  test("results table holds exactly the VALIDATED fetches (reference total_valid)") {
    // The reference appends a stage-1 row only when validate_pdf_access
    // succeeds (cninfo_report_crawler.py:479-493): no 404, no non-PDF,
    // no robots-denied URL may appear in the results table or the
    // final report.
    val snap = log.latest().get
    val urls = log.readTable(spark, snap, CrawlJob.ResultsTable).get
      .select("pdf_url").collect().map(_.getString(0))
    assert(urls.nonEmpty)
    urls.foreach { u =>
      assert(Validate.isValidScala(Fixtures.fetchStatus(u),
        Fixtures.fetchContentType(u), Fixtures.fetchMagic(u)),
        s"unvalidated URL in results: $u")
      assert(Fixtures.robotsAllowed(u), s"robots-denied URL in results: $u")
    }
    // and results ≡ the fetched-docs set, keyed per task row
    val fetched = log.readTable(spark, snap, CrawlJob.DocsTable).get
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(urls.toSet == fetched,
      "results rows must correspond 1:1 to validated fetches")
  }

  test("seen keys equal reference 4-tuple identity (first wins)") {
    // the seen key is the reference's (secCode, title, time, url) tuple:
    // re-serving the same announcement must not create a second key
    val a1 = Fixtures.announcement(0, 19800, 7, 123L)
    val a2 = Fixtures.announcement(0, 19800, 7, 456L)
    assert(Fixtures.seenKey(a1) == Fixtures.seenKey(a2))
  }
}
