package graft.seen

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
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
  */
object SeenFilter {

  /** A1/A2: first occurrence wins, deterministically — a row_number
    * window over the explicit arrival ordinal (pandas keep='first'
    * has no partition-stable Spark analog without it).
    */
  def firstWins(df: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** [[firstWins]] as a hash aggregate: min_by(row, seq) per key.
    * Same semantics when `seqCol` is unique per key (the crawl's
    * arrival ordinal is), but with MAP-SIDE PARTIAL AGGREGATION —
    * each partition pre-collapses its duplicates before the
    * exchange, where the window variant must shuffle+sort every raw
    * row. The scalable choice for dup-heavy frontiers.
    */
  def firstWinsAgg(df: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains)
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
      var merged: Array[Long] = null
      sketches.foreach { case (_, bits) =>
        if (merged == null) merged = bits.clone()
        else { var i = 0; while (i < merged.length) { merged(i) |= bits(i); i += 1 } }
      }
      val sk = merged
      cands.map { r =>
        val flag = sk != null && mightContain(sk, params, r.getString(urlIdx))
        org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ flag) // drop __pid (last)
      }
    }(Encoders.row(outSchema))
  }

  /** OR-merge accumulated sketch deltas to one row per pid — all
    * executor-side (groupByKey + reduceGroups; the reduce buffer is a
    * single bit array). Used to compact the snapshot's sketch table so
    * reads stay O(P) rows however many rounds have committed deltas.
    */
  def mergeSketches(sketchDf: DataFrame): DataFrame = {
    val spark = sketchDf.sparkSession
    import spark.implicits._
    sketchDf.select(col("bloom_pid").cast("long"), col("bits"))
      .as[(Long, Array[Long])]
      .groupByKey(_._1)
      .reduceGroups { (a: (Long, Array[Long]), b: (Long, Array[Long])) =>
        val m = a._2.clone()
        var i = 0; while (i < m.length) { m(i) |= b._2(i); i += 1 }
        (a._1, m)
      }
      .map(_._2)
      .toDF("bloom_pid", "bits")
  }

  /** Broadcast-map probe — the SMALL-state fast path (narrow, no
    * exchange). Only correct to reach for when P×numBits/8 is
    * broadcast-sized; the round loop uses [[probeBloomDistributed]].
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
}
