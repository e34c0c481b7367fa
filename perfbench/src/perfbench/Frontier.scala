package perfbench

import graft.crawl.Validate
import graft.extract.Extract
import graft.gen.Fixtures
import graft.report.Report
import graft.sched.Scheduler
import graft.seen.SeenFilter
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** frontier_1host: one pass of the frontier pipeline in the shape of
  * graft.bench.ReplayBench.run — F1/F2 filters, first-wins dedup,
  * bloom probe plus exact anti-join against the prior round's seen
  * state, robots gate, salted politeness assignment, validation, fetch
  * and span extraction, as one action.
  *
  * Inputs: `n` candidate announcements drawn from a pool of 0.8 n
  * identities (~20% duplicates), all on the fixture's one host, keyed
  * by the seed; ~10% of keys are pre-seen. Candidates and the prior
  * seen state are materialised before the clock starts.
  */
final class Frontier(spark: SparkSession, seed: Long, n: Long, warmN: Long, warmPasses: Int)
    extends Workload {
  import Frontier._
  import spark.implicits._

  private final case class Inputs(cand: DataFrame, preSeen: DataFrame, sketchDf: DataFrame,
                                  sketches: Map[Int, Array[Long]]) {
    def release(): Unit = Seq(cand, preSeen, sketchDf).foreach(_.unpersist())
  }
  private var inputs: Option[Inputs] = None

  private def candidates(s: Long, count: Long): DataFrame = {
    val pool = math.max(1L, (count * 4) / 5)
    spark.range(count).mapPartitions { it =>
      it.map { id =>
        val poolId = math.floorMod(Fixtures.hashKey("cand", s, id), pool)
        val exchangeRank = (poolId % 5).toInt
        val epochDay = 19800 + ((poolId / 5) % 30).toInt
        val a = Fixtures.announcement(exchangeRank, epochDay, (poolId / 150).toInt, id)
        (a.secCode, a.title, a.timeMs, a.timeStr, a.adjunctUrl, id, epochDay)
      }
    }.toDF("sec_code_raw", "title", "time_ms", "time_str", "adjunct_url",
      "arrival_seq", "epoch_day")
      .withColumn("url", concat(lit(Fixtures.UrlBase), col("adjunct_url")))
      .withColumn("seen_key", concat_ws("",
        col("sec_code_raw"), col("title"), col("time_ms"), col("time_str"),
        col("adjunct_url")))
  }

  private def prepare(s: Long, count: Long): Inputs = {
    val cand = candidates(s, count).persist(mem)
    cand.count()
    val preSeen = cand.where(pmod(xxhash64(col("seen_key")), lit(10)) === 0)
      .select("seen_key").distinct().persist(mem)
    val sketchDf = SeenFilter.buildPartitionedBloom(preSeen, "seen_key", bloomP, params)
      .persist(mem)
    Inputs(cand, preSeen, sketchDf, SeenFilter.collectSketches(sketchDf))
  }

  /** `warmPasses` passes over `warmN` candidates of another seed. */
  def warmUp(): Double = Clock.timed {
    val w = prepare(seed + 1000003L, warmN)
    try (1 to warmPasses).foreach(_ => pass(w, None)) finally w.release()
  }._2

  def buildInputs(): Double = {
    inputs.foreach(_.release())
    inputs = None
    val (in, t) = Clock.timed(prepare(seed, n))
    inputs = Some(in)
    t
  }

  def op(tracer: Option[Tracer]): Op = pass(inputs.get, tracer)

  override def close(): Unit = inputs.foreach(_.release())

  private def kept(in: Inputs): DataFrame = in.cand.where(
    Report.titleFilter(Seq(2023, 2024))(col("title")) &&
      !col("title").contains("摘要") && !col("title").contains("英文版"))
    .select("seen_key", "url", "epoch_day", "sec_code_raw", "arrival_seq")

  private def robots(newKeys: DataFrame): DataFrame =
    Scheduler.robotsGate(newKeys.withColumn("host", lit(Fixtures.Host)),
      Fixtures.robotsRules.toDF("host", "path_prefix", "allow"))

  private def schedIn(gated: DataFrame): Dataset[Scheduler.SchedIn] =
    gated.where(!col("robots_denied")).select(col("url"), col("host"),
      col("epoch_day").cast("long").as("priority"),
      concat_ws("|", col("sec_code_raw"), col("seen_key")).as("tiebreak"))
      .as[Scheduler.SchedIn]

  private def newKeysOf(probed: DataFrame, in: Inputs, confirmed: Option[Observation]): DataFrame = {
    val exact = probed.where(col("might_be_seen")).drop("might_be_seen")
      .join(in.preSeen, Seq("seen_key"), "left_anti")
    probed.where(!col("might_be_seen")).drop("might_be_seen")
      .unionByName(confirmed.map(o => exact.observe(o, count(lit(1)).as("n"))).getOrElse(exact))
  }

  /** In-budget slice → HEAD probe → validate → fetch, observed: head
    * probes, a position-keyed hash of the fetched URLs (each URL hashed
    * with its salt, queue rank and tick, so any change of crawl order
    * changes it), fetched docs and spans.
    */
  private def fetch(assigned: Dataset[Scheduler.SchedOut], obsProbe: Observation,
                    obsOrder: Observation, obsDocs: Observation): DataFrame =
    assigned
      .filter(_.tick_index < ticksFetchable)
      .observe(obsProbe, count(lit(1)).as("head_probes"))
      .filter(o => Validate.isValidScala(Fixtures.fetchStatus(o.url),
        Fixtures.fetchContentType(o.url), Fixtures.fetchMagic(o.url)))
      .observe(obsOrder, coalesce(sum(xxhash64(col("url"), col("salt"), col("rank"),
        col("tick_index")).cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("order_hash"))
      .map { o =>
        val d = Fixtures.docFor(o.url)
        (d.doc_id, d.spans)
      }.toDF("doc_id", "spans")
      .observe(obsDocs, count(lit(1)).as("fetched"),
        coalesce(sum(size(col("spans"))), lit(0L)).as("spans"))

  private def pass(in: Inputs, tracer: Option[Tracer]): Op = {
    val obsSched = Observation(); val obsProbe = Observation()
    val obsOrder = Observation(); val obsDocs = Observation()
    val t0 = System.nanoTime()
    val rowsOut = tracer match {
      case None =>
        val first = SeenFilter.firstWinsAgg(kept(in), Seq("seen_key"), "arrival_seq")
        val probed = SeenFilter.probeBloom(first, "seen_key", bloomP, params, in.sketches)
          .persist(mem)
        val gated = robots(newKeysOf(probed, in, None))
        val assigned = Scheduler.assignVirtualTicks(schedIn(gated), saltCount, tokensPerTick, 300L)
          .observe(obsSched, count(lit(1)).as("scheduled"))
        val r = Extract.extractLongRows(fetch(assigned, obsProbe, obsOrder, obsDocs)).count()
        probed.unpersist()
        r
      case Some(tr) => tracedPass(in, tr, obsSched, obsProbe, obsOrder, obsDocs)
    }
    val wall = Clock.secs(t0)
    val scheduled = obsSched.get("scheduled").asInstanceOf[Long]
    val fetched = obsDocs.get("fetched").asInstanceOf[Long]
    val digest = Map[String, Any](
      "scheduled" -> scheduled, "fetched" -> fetched,
      "spans" -> obsDocs.get("spans"), "rows_out" -> rowsOut,
      "head_probes" -> obsProbe.get("head_probes"),
      "order_hash" -> obsOrder.get("order_hash").toString)
    val ok = scheduled > 0 && fetched > 0 && fetched <= scheduled
    Op(wall, scheduled + fetched,
      Seq("pass" -> Outcome(ok, if (ok) "" else "empty or inconsistent pass", digest)))
  }

  /** The same pass with every layer's output materialised (persist +
    * count) at its boundary, so each span covers exactly its layer.
    */
  private def tracedPass(in: Inputs, tr: Tracer, obsSched: Observation,
                         obsProbe: Observation, obsOrder: Observation,
                         obsDocs: Observation): Long = {
    val held = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def keep[T](d: Dataset[T]): Dataset[T] = { held += d; d.persist(mem) }
    def obsGet(o: Observation, k: String): Double = o.get(k) match {
      case null => 0.0
      case n: java.lang.Number => n.doubleValue()
      case other => other.toString.toDouble
    }
    val rows = tr.span("pass") {
      val first = tr.span("seen.first_wins") {
        val oIn = Observation()
        val f = keep(SeenFilter.firstWinsAgg(
          kept(in).observe(oIn, count(lit(1)).as("n")), Seq("seen_key"), "arrival_seq"))
        tr.count("rows_out", f.count().toDouble)
        tr.count("rows_in", obsGet(oIn, "n"))
        f
      }
      val probed = tr.span("seen.bloom_probe") {
        val o = Observation()
        val p = keep(SeenFilter.probeBloom(first, "seen_key", bloomP, params, in.sketches))
        p.observe(o, count(lit(1)).as("probed"),
          sum(when(col("might_be_seen"), 1L).otherwise(0L)).as("maybe")).count()
        tr.count("probed", obsGet(o, "probed"))
        tr.count("maybe", obsGet(o, "maybe"))
        p
      }
      val newKeys = tr.span("seen.exact_confirm") {
        val o = Observation()
        val k = keep(newKeysOf(probed, in, Some(o)))
        tr.count("new_keys", k.count().toDouble)
        tr.count("confirmed_new", obsGet(o, "n"))
        k
      }
      val gated = tr.span("sched.robots") {
        val o = Observation()
        val g = keep(robots(newKeys))
        g.observe(o, sum(when(col("robots_denied"), 1L).otherwise(0L)).as("denied")).count()
        tr.count("denied", obsGet(o, "denied"))
        g
      }
      val assigned = tr.span("sched.assign") {
        val a = keep(Scheduler.assignVirtualTicks(schedIn(gated), saltCount, tokensPerTick, 300L)
          .observe(obsSched, count(lit(1)).as("scheduled")))
        tr.count("scheduled", a.count().toDouble)
        a
      }
      val docs = tr.span("fetch") {
        val d = keep(fetch(assigned, obsProbe, obsOrder, obsDocs))
        tr.count("docs", d.count().toDouble)
        tr.count("head_probes", obsGet(obsProbe, "head_probes"))
        tr.count("spans", obsGet(obsDocs, "spans"))
        d
      }
      tr.span("extract") {
        val r = Extract.extractLongRows(docs).count()
        tr.count("rows_out", r.toDouble)
        r
      }
    }
    held.foreach(_.unpersist())
    rows
  }
}

/** ReplayBench.run's default pipeline parameters. Kept on the companion
  * so task closures reference them statically instead of capturing the
  * (driver-only) workload instance.
  */
object Frontier {
  val saltCount = 256
  val tokensPerTick = 16
  val ticksFetchable = 256L
  val bloomP = 64
  val params: SeenFilter.BloomParams = SeenFilter.BloomParams(1 << 18, 4)
  val mem: StorageLevel = StorageLevel.MEMORY_AND_DISK
}
