package graft

import graft.bench.ReplayBench
import graft.crawl.CrawlJob
import graft.gen.Fixtures
import graft.report.Report
import graft.sched.Scheduler
import graft.seen.SeenFilter
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import scala.jdk.CollectionConverters._

/** Scheduler (ST1/ST2/ST3) and seen-filter (A1/A6/J1) unit +
  * property tests, the replay pass in both probe regimes, and a source
  * guard keeping the probe regime inside `graft.seen`.
  */
class SchedSeenSpec extends SparkSpec {

  test("token bucket: rank/tick assignment matches the closed form") {
    val s = spark; import s.implicits._
    val in = (1 to 25).map(i =>
      Scheduler.SchedIn(s"u$i", "h", priority = (i % 5).toLong, tiebreak = f"t$i%02d"))
    val out = Scheduler.assignVirtualTicks(in.toDS(), saltCount = 1,
      tokensPerTick = 4, tickMs = 300).collect().sortBy(_.rank)
    // order: priority asc, then tiebreak asc
    val want = in.sortBy(r => (r.priority, r.tiebreak, r.url))
    assert(out.map(_.url).toSeq == want.map(_.url))
    out.foreach { o =>
      assert(o.tick_index == (o.rank - 1) / 4)
      assert(o.scheduled_ms == o.tick_index * 300)
    }
  }

  test("salting spreads a hot host and divides the budget (ST2)") {
    val s = spark; import s.implicits._
    val in = (1 to 200).map(i => Scheduler.SchedIn(s"url$i", "hot.host", i.toLong, ""))
    val out = Scheduler.assignVirtualTicks(in.toDS(), saltCount = 8,
      tokensPerTick = 2, tickMs = 300).collect()
    val salts = out.map(_.salt).distinct
    assert(salts.length == 8, "200 urls must hit all 8 salt queues")
    // within each salt queue the closed form holds
    out.groupBy(_.salt).foreach { case (_, g) =>
      g.sortBy(_.rank).zipWithIndex.foreach { case (o, i) =>
        assert(o.rank == i + 1 && o.tick_index == i / 2)
      }
    }
    // budget per tick: at most salts × tokensPerTick urls share a tick
    out.groupBy(_.tick_index).foreach { case (_, g) => assert(g.length <= 8 * 2) }
  }

  test("default Config politeness parity: cadence quantum + budget vs the reference ceilings") {
    // VERDICT r5 #8 — the north rule's "same politeness budget"
    // clause, pinned numerically (the mapping paragraph lives on
    // CrawlJob.Config's scaladoc). Reference ceilings (SURVEY §6):
    // 0.3 s/page/stream listing sleep, 30 URLs/page (⇒ ≤100 URLs/s
    // discovered host-wide — the listing loop is serial), ≤5
    // concurrent PDF GETs, ≤10 HEAD probes.
    val cfg = CrawlJob.Config()
    // (a) the virtual-clock quantum IS the reference sleep
    assert(CrawlJob.TickMs == 300L, "tick quantum must equal the reference's 0.3 s sleep")
    // (b) per-queue budget never exceeds the reference GET pool
    assert(cfg.tokensPerTick <= 5, "per-queue issue budget must fit the 5-GET pool")
    // (c) host-wide ceiling ≈ the discovery ceiling: 32 per quantum
    // vs 30 discovered per quantum (≥, so the frontier never backs up
    // without bound; within one page's worth, so never ruder than the
    // listing leg can feed)
    val hostPerTick = cfg.saltCount * cfg.tokensPerTick
    assert(hostPerTick >= 30 && hostPerTick <= 2 * 30,
      s"host budget/quantum $hostPerTick must cover one 30-URL page, within 2x")
    // (d) listing cadence: one page per stream per round = 2.4
    // virtual seconds ≥ the reference's 0.3 s/page — politer, never ruder
    assert(cfg.ticksPerRound * CrawlJob.TickMs >= 300L)

    // and the SCHEDULE actually honors those ceilings on a hot-host
    // workload: max per (queue, tick) == tokensPerTick; the gap
    // between successive token windows of one queue == the quantum
    val s = spark; import s.implicits._
    val in = (1 to 400).map(i => Scheduler.SchedIn(s"u$i", "static.cninfo.com.cn",
      (i % 7).toLong, f"t$i%03d"))
    val out = Scheduler.assignVirtualTicks(in.toDS(), cfg.saltCount,
      cfg.tokensPerTick, CrawlJob.TickMs).collect()
    val perQueueTick = out.groupBy(o => (o.salt, o.tick_index)).view.mapValues(_.length)
    assert(perQueueTick.values.max == cfg.tokensPerTick,
      "a saturated queue must issue exactly tokensPerTick per quantum")
    val perTick = out.groupBy(_.tick_index).view.mapValues(_.length)
    assert(perTick.values.max <= hostPerTick, "host-wide budget per quantum")
    out.groupBy(_.salt).values.foreach { g =>
      g.sortBy(_.rank).foreach { o =>
        assert(o.scheduled_ms == ((o.rank - 1) / cfg.tokensPerTick) * CrawlJob.TickMs,
          "cadence: the k-th token window of a queue opens at k x 300 ms exactly")
      }
    }
  }

  test("robots gate: longest prefix wins, no match allows (ST3)") {
    val s = spark; import s.implicits._
    val rules = Seq(
      ("h.example", "/", true),
      ("h.example", "/private", false),
      ("h.example", "/private/open", true)).toDF("host", "path_prefix", "allow")
    val tasks = Seq(
      ("https://h.example/public/a", "h.example"),
      ("https://h.example/private/a", "h.example"),
      ("https://h.example/private/open/b", "h.example"),
      ("https://other.example/x", "other.example")).toDF("url", "host")
    val got = Scheduler.robotsGate(tasks, rules)
      .select("url", "robots_denied").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("https://h.example/public/a") == false)
    assert(got("https://h.example/private/a") == true)
    assert(got("https://h.example/private/open/b") == false)
    assert(got("https://other.example/x") == false)
  }

  test("firstWins: first arrival kept regardless of partitioning (A1)") {
    val s = spark; import s.implicits._
    val rows = (1 to 400).map(i => (s"k${i % 40}", i.toLong))
    val df = rows.toDF("k", "seq").repartition(7) // scramble physical order
    val got = SeenFilter.firstWinsAgg(df, Seq("k"), "seq")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = rows.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    assert(got == want)
  }

  test("bloom: zero false negatives, bounded false positives (A6)") {
    val params = SeenFilter.BloomParams(1 << 14, 4)
    val bits = new Array[Long](params.numBits / 64)
    val inserted = (1 to 1000).map(i => s"https://x/$i")
    inserted.foreach(k => SeenFilter.setBits(bits, params, k))
    // no false negatives — the exactness guarantee the design rests on
    assert(inserted.forall(k => SeenFilter.mightContain(bits, params, k)))
    val probes = (1 to 10000).map(i => s"https://y/$i")
    val fp = probes.count(k => SeenFilter.mightContain(bits, params, k))
    assert(fp < 500, s"false-positive rate out of range: $fp/10000")
  }

  test("bloom sizing math (10^10 design point constants)") {
    val p = SeenFilter.BloomParams.forItems(1000000, 0.01)
    // ~9.6 bits/key for 1% fpp
    assert(p.numBits > 9000000 && p.numBits < 10000000)
    assert(p.numHashes >= 6 && p.numHashes <= 8)
  }

  test("partitioned bloom build+probe agrees with exact membership") {
    val s = spark; import s.implicits._
    val params = SeenFilter.BloomParams(1 << 12, 4)
    val seen = (1 to 500).map(i => s"u$i").toDF("url")
    val sketches = SeenFilter.collectSketches(
      SeenFilter.buildPartitionedBloom(seen, "url", p = 8, params))
    val cands = ((400 to 700).map(i => s"u$i")).toDF("url")
    val probed = SeenFilter.probeBloom(cands, "url", 8, params, sketches)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // every true member flagged (no false negatives across partitions)
    (400 to 500).foreach(i => assert(probed(s"u$i"), s"u$i must probe true"))
  }

  test("distributed probe: no false negatives, multi-delta merge, no driver state") {
    val s = spark; import s.implicits._
    val params = SeenFilter.BloomParams(1 << 12, 4)
    // two delta batches for the same key space — the cogroup must
    // OR-merge per-pid delta rows in-task
    val seenA = (1 to 250).map(i => s"u$i").toDF("url")
    val seenB = (251 to 500).map(i => s"u$i").toDF("url")
    val sketchDf = SeenFilter.buildPartitionedBloom(seenA, "url", p = 8, params)
      .unionByName(SeenFilter.buildPartitionedBloom(seenB, "url", p = 8, params))
    val cands = (400 to 700).map(i => s"u$i").toDF("url")
    val probed = SeenFilter.probeBloomDistributed(cands, "url", 8, params, sketchDf)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    (400 to 500).foreach(i => assert(probed(s"u$i"), s"u$i must probe true"))
    // compaction: merged table gives identical probe results, 1 row/pid
    val merged = SeenFilter.mergeSketches(sketchDf)
    assert(merged.groupBy("bloom_pid").count().where(col("count") > 1).isEmpty)
    val probed2 = SeenFilter.probeBloomDistributed(cands, "url", 8, params, merged)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(probed2 == probed)
  }

  test("ReplayBench: both probe regimes schedule the sketch-free restatement") {
    val s = spark; import s.implicits._
    val n = 20000L
    // ReplayBench's sketches are 1 << 18 bits = 32 KB per pid
    val params = SeenFilter.bloomParams(1 << 18)
    assert(SeenFilter.broadcastable(64, params), "64 × 32 KB must broadcast")
    assert(!SeenFilter.broadcastable(512, params), "512 × 32 KB = 16 MiB must cogroup")
    val broadcast = ReplayBench.run(s, n)
    val cogroup = ReplayBench.run(s, n, bloomP = 512)
    def counts(p: ReplayBench.PipelineStats) = (p.urlsSeen, p.scheduled, p.fetched, p.spans)
    assert(counts(broadcast) == counts(cogroup))
    // no sketch: the F1/F2-kept distinct keys, minus the pre-seen
    // tenth of the key space, minus the robots-denied URLs
    val cand = ReplayBench.candidates(s, n).withColumn("seen_key", concat_ws("\u0001",
      col("sec_code_raw"), col("title"), col("time_ms"), col("time_str"), col("adjunct_url")))
    val preSeen = cand.where(pmod(xxhash64(col("seen_key")), lit(10)) === 0)
      .select("seen_key").as[String].collect().toSet
    val kept = cand.where(Report.stage1Filter(Seq(2023, 2024))(col("title")))
      .select("seen_key", "adjunct_url").distinct().as[(String, String)].collect()
    assert(kept.map(_._1).distinct.length == kept.length, "one URL per seen key")
    val want = kept.count { case (k, adj) =>
      !preSeen(k) && Fixtures.robotsAllowed(Fixtures.docUrl(adj))
    }
    assert(want > 0 && broadcast.scheduled == want)
  }

  test("only graft.seen acts on the probe regime") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(f => root.relativize(f).toString.startsWith("graft/seen/")).toSeq
    assert(files.exists(_.endsWith("CrawlJob.scala")), files)
    val regime = Seq("probeBloom(", "probeBloomDistributed(", "mergeSketches(",
      "collectSketches(", "\"might_be_seen\"")
    val actors = files.flatMap { f =>
      val src = Files.readString(f)
      regime.filter(src.contains).map(m => s"${root.relativize(f)}: $m")
    }
    assert(actors.isEmpty,
      s"seen-step code outside graft.seen (call SeenFilter.Sketch / confirmNew): $actors")
  }

  test("scheduler places each (host,salt) queue on its computed partition — uniform") {
    // the token trick must route queue (host, salt) to exactly
    // pmod(xxhash64(host)+salt, n); with uniform salts the fullest
    // partition stays within a few percent of the mean
    val s = spark; import s.implicits._
    import graft.sched.Scheduler
    val n = s.sessionState.conf.numShufflePartitions
    val tokens = Scheduler.partitionTokens(n)
    tokens.zipWithIndex.foreach { case (t, p) =>
      assert(math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42), n) == p)
    }
    val in = s.range(200000).select(
      concat(lit("https://h/x"), col("id")).as("url"), lit("h").as("host"),
      col("id").as("priority"), lit("").as("tiebreak"))
    val out = Scheduler.assignVirtualTicksCols(in, 256, 4, 300L)
    val perPart = out.toDF().mapPartitions { it =>
      var c = 0L; var salts = Set.empty[Int]
      val saltIdx = 4 // url, host, priority, tiebreak, salt, ...
      it.foreach { r => c += 1; salts += r.getInt(saltIdx) }
      if (c == 0) Iterator.empty else Iterator((c, salts.size))
    }.collect()
    // every salt's rows land in ONE partition (rank correctness)...
    assert(perPart.map(_._2).sum == 256, "each (host,salt) queue in exactly one partition")
    // ...and the fullest partition is within 15% of the mean
    val counts = perPart.map(_._1)
    val maxOverMean = counts.max.toDouble * counts.length / counts.sum
    assert(maxOverMean < 1.15, s"partition skew $maxOverMean")
  }

  test("saltOf is stable and bounded") {
    val urls = Gen.listOfN(50, Gen.alphaNumStr).sample.get
    urls.foreach { u =>
      val v = Scheduler.saltOf(u, 16)
      assert(v >= 0 && v < 16 && v == Scheduler.saltOf(u, 16))
    }
  }
}
