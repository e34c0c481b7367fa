package graft.seen

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** URL-seen filtering: the frontier's dedup identity (SURVEY.md §2.4
  * A1/A6, reference analog cninfo_report_crawler.py:183,294-306).
  *
  * Two layers, by design:
  *  1. EXACT first-wins / anti-join — the source of truth. The north
  *     rule demands exact seen-set equality with the reference, so
  *     correctness never rests on a sketch.
  *  2. Partitioned Bloom pre-filter — a shuffle-reduction front at the
  *     10^10-URL design point: candidates are partitioned by
  *     pmod(xxhash64(url), P) (the same stable function that
  *     partitioned the build), each partition probes only its own
  *     sketch, and only possible-dups pay the exact anti-join. With
  *     10^10 keys, P=4096 and 10 bits/key each sketch is ~3 GB/P ≈
  *     3 MB — executor-cache friendly. False positives cost an extra
  *     exact probe; false negatives are impossible, so the exact
  *     layer sees every true duplicate.
  *
  * A round's seen step is [[Sketch]]'s probe, [[confirmNew]], then the
  * sketch's advance; no caller acts on the probe regime itself.
  */
object SeenFilter {

  val BloomHashes = 4          // hash functions per seen-key probe
  val SketchCompactEvery = 4   // cogroup: OR-merge the deltas at 4 dirs
  def bloomParams(bits: Int): BloomParams = BloomParams(bits, BloomHashes)

  /** A1/A2: first occurrence wins, deterministically — per key, the
    * row with the least `seqCol`, as one aggregate (min_by(row, seq))
    * with MAP-SIDE PARTIAL AGGREGATION: each partition pre-collapses
    * its duplicates before the exchange. `seqCol` must be unique per
    * key (the crawl's arrival ordinal is); then this keeps exactly the
    * rows of a `row_number` window over it. The struct buffer plans as
    * a SortAggregate, not a hash aggregate.
    */
  def firstWinsAgg(df: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame = {
    val others = df.columns.toSeq.filterNot(keyCols.contains)
    val packed = df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(others.map(col): _*), col(seqCol)).as("__row"))
    packed.select(keyCols.map(col) ++ others.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Stable partition id for the bloom domain — MUST be the same
    * expression on the build and probe sides across rounds/snapshots.
    */
  def bloomPartition(url: Column, p: Int): Column = pmod(xxhash64(url), lit(p))

  // ---------------------------------------------------------------
  // Bloom sketch: Array[Long] bit set + double hashing (Kirsch-
  // Mitzenmacher), FNV-1a/splitmix64 based — self-contained, no
  // driver-collected state (Spark's df.stat.bloomFilter collects to
  // the driver, which cannot scale to a 10^10-key partitioned build).
  // ---------------------------------------------------------------

  final case class BloomParams(numBits: Int, numHashes: Int)

  object BloomParams {
    /** Standard sizing: m = -n·ln(p)/ln2², k = m/n·ln2. */
    def forItems(expectedItems: Long, fpp: Double): BloomParams = {
      val m = math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2)))
      val bits = math.max(64, math.min(m, Int.MaxValue.toDouble * 32).toLong)
      val k = math.max(1, math.round(bits.toDouble / expectedItems * math.log(2)).toInt)
      BloomParams(((bits + 63) / 64 * 64).toInt, k)
    }
  }

  /** A crawl's seen-sketch regime, fixed by its config alone: within
    * the bound, the merged `p × numBits/8` map is collected, carried
    * and probed narrow by [[probeBloom]] (2M-URL A/B: 13.9 s vs the
    * cogroup's 19.9 s); above it only [[probeBloomDistributed]] can
    * run (~12 GB of map at the 10^10 design point).
    */
  val BroadcastMaxBytes: Long = 8L << 20
  def broadcastable(p: Int, params: BloomParams): Boolean =
    p.toLong * (params.numBits / 8) <= BroadcastMaxBytes

  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def setBits(bits: Array[Long], params: BloomParams, key: String): Unit = {
    val h1 = fnv64(key); val h2 = splitmix64(h1)
    var i = 0
    while (i < params.numHashes) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, params.numBits.toLong).toInt
      bits(idx >>> 6) |= (1L << (idx & 63))
      i += 1
    }
  }

  /** Bitwise OR of two equal-length sketches, as a new array. */
  def orBits(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(a.length)(i => a(i) | b(i))

  def mightContain(bits: Array[Long], params: BloomParams, key: String): Boolean = {
    val h1 = fnv64(key); val h2 = splitmix64(h1)
    var i = 0
    while (i < params.numHashes) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, params.numBits.toLong).toInt
      if ((bits(idx >>> 6) & (1L << (idx & 63))) == 0) return false
      i += 1
    }
    true
  }

  /** Build per-partition sketches: (bloom_pid, bits). One hash
    * exchange on the stable partition id, then a tight imperative
    * per-partition build (mapPartitions) — all rows of a pid land in
    * one task, so each sketch is built exactly once with zero buffer
    * serialization. (A udaf(Aggregator) formulation is semantically
    * identical but pays an encoder round-trip of the multi-KB bit
    * array per input row — measured 10-50× slower.)
    */
  def buildPartitionedBloom(seen: DataFrame, urlCol: String, p: Int,
                            params: BloomParams): DataFrame = {
    val spark = seen.sparkSession
    import spark.implicits._
    seen
      .select(bloomPartition(col(urlCol), p).as("bloom_pid"), col(urlCol).as("__url"))
      .repartition(col("bloom_pid"))
      .mapPartitions { it =>
        val sketches = scala.collection.mutable.LongMap.empty[Array[Long]]
        it.foreach { r =>
          val bits = sketches.getOrElseUpdate(r.getLong(0), new Array[Long](params.numBits / 64))
          setBits(bits, params, r.getString(1))
        }
        sketches.iterator.map { case (pid, bits) => (pid, bits) }
      }.toDF("bloom_pid", "bits")
  }

  /** Distributed probe: candidates → (row..., might_be_seen) with NO
    * driver-side sketch state. Both sides group on the stable
    * bloom_pid; a typed cogroup then OR-merges only that pid's delta
    * rows inside the task and streams candidates through it. Per-task
    * state = ONE sketch (numBits/8 bytes), regardless of P — at the
    * 10^10 design point (P=4096 × ~3 MB) the alternative broadcast
    * map is ~12 GB through the driver and onto every executor per
    * round. The candidate shuffle on pid is not wasted work: the new
    * keys that survive the probe are re-partitioned by the same pid
    * for the sketch-delta build.
    *
    * Correctness: a pid with no sketch row ⇒ definitely unseen
    * (sketches have no false negatives).
    */
  def probeBloomDistributed(candidates: DataFrame, urlCol: String, p: Int,
                            params: BloomParams, sketchDf: DataFrame): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val withPid = candidates.withColumn("__pid", bloomPartition(col(urlCol), p))
    val urlIdx = withPid.schema.fieldIndex(urlCol)
    val pidIdx = withPid.schema.fieldIndex("__pid")
    val outSchema = org.apache.spark.sql.types.StructType(
      candidates.schema.fields :+
        org.apache.spark.sql.types.StructField("might_be_seen",
          org.apache.spark.sql.types.BooleanType, nullable = false))
    val candKV = withPid.groupByKey(_.getLong(pidIdx))
    val sketchKV = sketchDf
      .select(col("bloom_pid").cast("long"), col("bits"))
      .as[(Long, Array[Long])]
      .groupByKey(_._1)
    candKV.cogroup(sketchKV) { (_, cands, sketches) =>
      val sk = sketches.map(_._2).reduceOption(orBits).orNull
      cands.map { r =>
        val flag = sk != null && mightContain(sk, params, r.getString(urlIdx))
        org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ flag) // drop __pid (last)
      }
    }(Encoders.row(outSchema))
  }

  /** OR-merge accumulated sketch deltas to one row per pid — all
    * executor-side (groupByKey + reduceGroups; the reduce buffer is a
    * single bit array).
    */
  def mergeSketches(sketchDf: DataFrame): DataFrame = {
    val spark = sketchDf.sparkSession
    import spark.implicits._
    sketchDf.select(col("bloom_pid").cast("long"), col("bits"))
      .as[(Long, Array[Long])]
      .groupByKey(_._1)
      .reduceGroups((a: (Long, Array[Long]), b: (Long, Array[Long])) =>
        (a._1, orBits(a._2, b._2)))
      .map(_._2)
      .toDF("bloom_pid", "bits")
  }

  /** Broadcast-map probe — the SMALL-state fast path (narrow, no
    * exchange) for configs that are [[broadcastable]].
    */
  def probeBloom(candidates: DataFrame, urlCol: String, p: Int, params: BloomParams,
                 sketches: Map[Int, Array[Long]]): DataFrame = {
    val spark = candidates.sparkSession
    val bc = spark.sparkContext.broadcast(sketches)
    val probe = udf { (pid: Int, url: String) =>
      bc.value.get(pid).exists(bits => mightContain(bits, params, url))
    }
    candidates
      .withColumn("__pid", bloomPartition(col(urlCol), p).cast("int"))
      .withColumn("might_be_seen", probe(col("__pid"), col(urlCol)))
      .drop("__pid")
  }

  /** Collect built sketches into the broadcastable map (P entries —
    * driver holds P×(numBits/8) bytes; size params accordingly).
    */
  def collectSketches(bloomDf: DataFrame): Map[Int, Array[Long]] =
    bloomDf.collect().map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray).toMap

  /** The rows the sketch cleared, plus the possible duplicates the
    * exact anti-join against `seen` clears. The caller persists
    * `probed`: both branches read it.
    */
  def confirmNew(probed: DataFrame, key: String, seen: Option[DataFrame]): DataFrame = {
    val definitelyNew = probed.where(!col("might_be_seen")).drop("might_be_seen")
    val possibleDup = probed.where(col("might_be_seen")).drop("might_be_seen")
    definitelyNew.unionByName(
      seen.fold(possibleDup)(s => possibleDup.join(s.select(key), Seq(key), "left_anti")))
  }

  /** One round's sketch state in the crawl's one probe regime
    * ([[broadcastable]]). Broadcast: the merged map, carried or (on
    * resume) collected once, is probed narrow and, OR-ed with the
    * round's delta, is both the next carry and the whole committed
    * table as one replaced dir. Cogroup: the committed table is probed
    * on bloom_pid, no sketch bytes reach the driver, each round
    * appends its delta dir, and at `SketchCompactEvery` dirs they are
    * OR-merged to one row per pid.
    */
  final class Sketch private (p: Int, params: BloomParams,
                              map: Option[Map[Int, Array[Long]]],
                              table: Option[DataFrame], dirs: Int) {
    private val broadcast = broadcastable(p, params)

    /** `df` with `might_be_seen`, false while nothing is committed. */
    def probe(df: DataFrame, key: String): DataFrame =
      map.map(probeBloom(df, key, p, params, _))
        .orElse(table.map(probeBloomDistributed(df, key, p, params, _)))
        .getOrElse(df.withColumn("might_be_seen", lit(false)))

    /** The round's new keys → (delta, replacement, next carried map). */
    def advance(newKeys: DataFrame, key: String, anyNew: Boolean)
        : (Option[DataFrame], Option[DataFrame], Option[Map[Int, Array[Long]]]) = {
      val delta = buildPartitionedBloom(newKeys.select(key), key, p, params)
      if (broadcast) {
        val prev = map.getOrElse(Map.empty[Int, Array[Long]])
        val next =
          if (!anyNew) prev
          else collectSketches(delta).foldLeft(prev) { case (m, (pid, bits)) =>
            m.updated(pid, m.get(pid).fold(bits)(orBits(_, bits)))
          }
        val spark = newKeys.sparkSession
        import spark.implicits._
        (None, Option.when(anyNew)(next.toSeq.sortBy(_._1)
          .map { case (pid, bits) => (pid.toLong, bits) }.toDF("bloom_pid", "bits")), Some(next))
      } else table match {
        case Some(t) if dirs + 1 >= SketchCompactEvery =>
          (None, Some(mergeSketches(t.unionByName(delta))), None)
        case _ => (Option.when(anyNew)(delta), None, None)
      }
    }
  }

  object Sketch {
    /** `committed` is not read by a broadcast round that carries its
      * map. One dir holds one row per pid; more are merged first.
      */
    def apply(p: Int, bits: Int, carried: Option[Map[Int, Array[Long]]],
              committed: => Option[DataFrame], dirs: Int): Sketch = {
      val params = bloomParams(bits)
      if (broadcastable(p, params))
        new Sketch(p, params, carried.orElse(committed.map(t =>
          collectSketches(if (dirs > 1) mergeSketches(t) else t))), None, dirs)
      else new Sketch(p, params, None, committed, dirs)
    }
  }
}
