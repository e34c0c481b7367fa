package graft.crawl

import graft.SparkSpec
import graft.seen.SeenFilter
import graft.snapshot.SnapshotLog
import java.nio.file.Files

/** The seen-sketch regime is a property of the crawl's config
  * (`SeenFilter.broadcastable`), the same for every round: a config
  * above the bound never collects a sketch map to the driver, round 0
  * included, and one within it carries its merged map through every
  * round however many rounds have added keys.
  */
class SketchRegimeSpec extends SparkSpec {

  // every exchange × 2 days × 2 categories: new keys in 5 of 6 rounds
  private val seeds = CrawlJob.expandSeeds(19805, 19806)

  private def crawl(bloomP: Int, bloomBits: Int) = {
    val cfg = CrawlJob.Config(saltCount = 4, tokensPerTick = 3, ticksPerRound = 4,
      bloomP = bloomP, bloomBits = bloomBits, maxRounds = 100)
    val root = Files.createTempDirectory("crawl-regime").toString
    (cfg, CrawlJob.run(spark, seeds, cfg, root), new SnapshotLog(root))
  }
  private def broadcastable(cfg: CrawlJob.Config) = SeenFilter.broadcastable(
    cfg.bloomP, SeenFilter.bloomParams(cfg.bloomBits))

  // 32768 × 512 B = 16 MiB: above the bound (many small sketches, the
  // design point's shape: only the pids that hold keys carry bytes)
  private lazy val distributed = crawl(1 << 15, 1 << 12)
  // 4 × 1 MiB = 4 MiB: within the bound, but above it once multiplied
  // by 3 sketch dirs
  private lazy val broadcast = crawl(4, 1 << 23)

  test("above the bound: no round collects a sketch map, round 0 included") {
    val (cfg, rounds, _) = distributed
    assert(!broadcastable(cfg))
    assert(rounds.count(_.totals.newUnique > 0) >= 4, "fixture must add keys in several rounds")
    assert(rounds.filter(_.nextCarry.sketch.isDefined).map(_.round).isEmpty,
      "rounds that carried a sketch map")
  }

  test("within the bound: every round carries the merged map, committed as one dir") {
    val (cfg, rounds, log) = broadcast
    assert(broadcastable(cfg))
    assert(rounds.count(_.totals.newUnique > 0) >= 4, "fixture must add keys in several rounds")
    assert(rounds.filter(_.nextCarry.sketch.isEmpty).map(_.round).isEmpty,
      "rounds that dropped the sketch map")
    // the carry is what a resume reads back: one replaced dir
    val snap = log.latest().get
    assert(snap.tables(CrawlJob.SketchTable).size == 1)
    val committed = SeenFilter.collectSketches(
      log.readTable(spark, snap, CrawlJob.SketchTable).get)
    val carried = rounds.last.nextCarry.sketch.get
    assert(committed.keySet == carried.keySet)
    carried.foreach { case (pid, bits) => assert(committed(pid).sameElements(bits), s"pid $pid") }
    // the sketch only fronts the exact seen set: both regimes crawl alike
    assert(rounds.map(_.totals) == distributed._2.map(_.totals))
  }
}
