package graft.ops

import graft.{SparkSpec, Tables}
import graft.ops.SimilarityOps.{centArrOf, cosineQ, dotQ, normSqQ, quantized, topK}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Differential tests for the compiled simhash and IVF kernels: each
  * against its former built-in formulation, kept here verbatim as the
  * test-only oracle (the 64-`sum` groupBy simhash with its
  * higher-order run-length build; the `array_sort` centroid
  * assignment; the per-dimension `sum` Lloyd refine). Zero-norm
  * vectors are left out: the old assignment fails on them under ANSI
  * mode (OpsSpec pins the kernel's null-cosine ranking instead).
  */
class SimhashIvfKernelSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** Equal row counts and empty `exceptAll` both ways. */
  private def assertSame(got: DataFrame, want: DataFrame): Long = {
    val n = got.count()
    assert(n == want.count())
    val extra = got.exceptAll(want).take(5)
    val missing = want.exceptAll(got).take(5)
    assert(extra.isEmpty && missing.isEmpty,
      s"kernel only: ${extra.mkString(", ")}; oracle only: ${missing.mkString(", ")}")
    n
  }

  /** Test-only oracle: the former `DedupOps.simhash`. */
  private def aggSimhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), array_sort(TextOps.tokens(col(textCol))).as("__st"))
      // token-free/null docs emitted no row in the explode shape and
      // must not here either (zip_with null-pads the shorter side, so
      // an empty __starts would otherwise yield one garbage row)
      .where(size(col("__st")) > 0)
      .withColumn("__starts", expr(
        // IF (not OR) so element_at is never evaluated at i = 0 —
        // ANSI mode rejects index 0
        "filter(transform(__st, (x, i) -> " +
          "IF(i = 0, 0, IF(element_at(__st, i) != x, i, -1))), b -> b >= 0)"))
      .select(col(idCol), explode(expr(
        "zip_with(__starts, " +
          "concat(slice(__starts, 2, size(__starts)), array(size(__st))), " +
          "(b, e) -> struct(element_at(__st, b + 1) AS tok, CAST(e - b AS BIGINT) AS cnt))"))
        .as("tc"))
      .select(col(idCol), col("tc.tok").as("tok"), col("tc.cnt").as("cnt"))
      .withColumn("h", md5(col("tok")))
      .withColumn("h2", md5(concat(lit("b:"), col("tok"))))
    val sumCols = (0 until 64).map { j =>
      val digit = if (j < 32) substring(col("h"), j + 1, 1)
                  else substring(col("h2"), j - 32 + 1, 1)
      sum((ascii(digit) % 2 * 2 - 1) * col("cnt")).as(s"s$j")
    }
    // Two's complement assembly: bits 0..62 contribute +2^j, bit 63
    // contributes Long.MinValue. Partial sums stay in range by
    // construction (≤ 2^63−1 before the sign bit lands), so this is
    // ANSI-overflow-safe.
    val fp = (0 until 64).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    toks.groupBy(col(idCol))
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col(idCol), fp.as("simhash"))
  }

  /** Test-only oracle: the former centroid assignment of
    * `SimilarityOps.annIvfCentroids`.
    */
  private def hofAssignCells(df: DataFrame, idCol: String, vecCol: String,
                             probes: Int, centArr: DataFrame): DataFrame = {
    val scored = transform(col("__cents"), c => struct(
      cosineQ(dotQ(col("qv"), c.getField("cent_qv")), col("nsq"),
        c.getField("cent_nsq")).as("cos"),
      c.getField("cid").as("cid")))
    val byCosDescCidAsc = (l: Column, r: Column) =>
      when(l.getField("cos") > r.getField("cos"), -1)
        .when(l.getField("cos") < r.getField("cos"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .when(l.getField("cid") > r.getField("cid"), 1)
        .otherwise(0)
    quantized(df, idCol, vecCol)
      .crossJoin(broadcast(centArr))
      .withColumn("__probe", explode(slice(array_sort(scored, byCosDescCidAsc),
        1, probes)))
      .select(col(idCol), col("__probe.cid").as("cell"), col("qv"), col("nsq"))
  }

  /** Test-only oracle: the former Lloyd refine (one `sum` per dimension). */
  private def sumRefineCells(member: DataFrame, dims: Int): DataFrame = {
    val sumCols = (0 until dims).map(i => sum(get(col("qv"), lit(i))).as(s"s$i")) :+
      count(lit(1)).as("cnt")
    member.groupBy(col("cell"))
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col("cell").as("cid"),
        array((0 until dims).map(i =>
          floor(col(s"s$i").cast("double") / col("cnt"))): _*).as("cent_qv"))
      .withColumn("cent_nsq", normSqQ(col("cent_qv")))
  }

  /** Test-only oracle: the former `SimilarityOps.annIvfCentroids`. */
  private def hofAnnIvfCentroids(queries: DataFrame, candidates: DataFrame,
                                 idCol: String, vecCol: String, k: Int,
                                 numCentroids: Int, nprobe: Int,
                                 dims: Int, lloydSteps: Int): DataFrame = {
    val seeds = quantized(candidates, idCol, vecCol)
      .withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol))
      .limit(numCentroids)
      .select(col(idCol).cast("long").as("cid"), col("qv").as("cent_qv"),
        col("nsq").as("cent_nsq"))
    var centArr = centArrOf(seeds)
    (0 until lloydSteps).foreach { _ =>
      val member = hofAssignCells(candidates, idCol, vecCol, 1, centArr)
      centArr = centArrOf(sumRefineCells(member, dims))
    }
    val idx = hofAssignCells(candidates, idCol, vecCol, 1, centArr)
      .select(col(idCol).as("neighbor_id"), col("cell"),
        col("qv").as("c_qv"), col("nsq").as("c_nsq"))
    val qs = hofAssignCells(queries, idCol, vecCol, nprobe, centArr)
      .select(col(idCol).as("query_id"), col("cell"),
        col("qv").as("q_qv"), col("nsq").as("q_nsq"))
    topK(idx.join(broadcast(qs), Seq("cell")), k)
  }

  test("simhash: kernel == 64-sum oracle on edge-case and generated docs") {
    val s = spark; import s.implicits._
    val vocab = Seq("the", "Cat", "SAT", "on", "a", "mat", "data", "x", "zz", "straße")
    val rnd = new scala.util.Random(7)
    def words(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ", ", ", ".")
    val edge = Seq[(Long, String)](
      (1L, null),
      (2L, ""),
      (3L, "1234 -- !! 56"),
      (4L, "the the the the cat the"),
      (5L, "THE Cat The cAT"),
      (6L, "\u212Aelvin \u212A \u212A kelvin"), // KELVIN SIGN lowercases to k
      (7L, words(5000)),
      (8L, words(20000)),
      (9L, "x"))
    val generated = (10L until 610L).map(i => (i, words(rnd.nextInt(60))))
    val docs = (edge ++ generated).toDF("doc_id", "text").cache()
    try {
      val got = DedupOps.simhash(docs, "doc_id", "text")
      assert(assertSame(got, aggSimhash(docs, "doc_id", "text")) > 600)
      val ids = got.select("doc_id").as[Long].collect().toSet
      assert(!ids.contains(1L) && !ids.contains(2L) && !ids.contains(3L),
        "null, empty and letter-free texts yield no row")
      assert(ids.contains(6L) && ids.contains(9L))
    } finally docs.unpersist()
  }

  test("simhash: kernel == 64-sum oracle on the sf0.001 documents table") {
    val docs = Tables.load(spark, d, "documents")
    assert(assertSame(DedupOps.simhash(docs, "doc_id", "text"),
      aggSimhash(docs, "doc_id", "text")) > 0)
  }

  /** `n` pseudo-random vectors in `dims` dims, exact at ×1000, every
    * fifth one a copy of its predecessor under the next id (exact
    * cosine ties).
    */
  private def vectors(n: Int, dims: Int, seed: Int): DataFrame = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(seed)
    var prev = Array.empty[Float]
    (0L until n.toLong).map { id =>
      val v =
        if (id % 5 == 4) prev
        else Array.fill(dims)((rnd.nextInt(2001) - 1000) / 1000.0f)
      prev = v
      (id, v)
    }.toDF("vec_id", "embedding")
  }

  test("IVF assignCells: kernel == array_sort oracle, incl. duplicate centroids and nprobe >= K") {
    val vecs = vectors(300, 8, 11).cache()
    try {
      // 6 centroids from 3 distinct vectors: every cosine ties with
      // another cid's
      val cents = quantized(vecs.where(col("vec_id") % 5 >= 3 && col("vec_id") < 15),
          "vec_id", "embedding")
        .select(col("vec_id").as("cid"), col("qv").as("cent_qv"), col("nsq").as("cent_nsq"))
      assert(cents.count() == 6)
      val centArr = centArrOf(cents)
      for (probes <- Seq(1, 2, 6, 9))
        assertSame(SimilarityOps.assignCells(vecs, "vec_id", "embedding", probes, centArr),
          hofAssignCells(vecs, "vec_id", "embedding", probes, centArr))
    } finally vecs.unpersist()
  }

  test("IVF refine: typed mean aggregate == per-dimension sum oracle") {
    val vecs = vectors(300, 8, 12).cache()
    try {
      val seeds = quantized(vecs.where(col("vec_id") < 4), "vec_id", "embedding")
        .select(col("vec_id").as("cid"), col("qv").as("cent_qv"), col("nsq").as("cent_nsq"))
      val member = SimilarityOps.assignCells(vecs, "vec_id", "embedding", 1, centArrOf(seeds))
      // dims below the vector length truncates
      for (dims <- Seq(8, 5))
        assert(assertSame(SimilarityOps.refineCells(member, dims),
          sumRefineCells(member, dims)) == 4)
      // above it, a component no member has is a null sum in the
      // oracle and 0 in the kernel; dot products read both as 0
      val padded = sumRefineCells(member, 10)
        .withColumn("cent_qv", transform(col("cent_qv"), x => coalesce(x, lit(0L))))
      assert(assertSame(SimilarityOps.refineCells(member, 10), padded) == 4)
    } finally vecs.unpersist()
  }

  test("annIvfCentroids: kernels == former pipeline end to end") {
    val vecs = vectors(400, 8, 13).cache()
    try {
      val qs = vecs.where(col("vec_id") % 9 === 0)
      // (K, nprobe, Lloyd steps, dims): nprobe < K, == K and > K;
      // dims past the vector length
      for ((kc, np, steps, dims) <- Seq((4, 2, 1, 8), (3, 3, 1, 8), (3, 5, 2, 8),
                                        (8, 1, 0, 8), (4, 2, 2, 10)))
        assert(assertSame(
          SimilarityOps.annIvfCentroids(qs, vecs, "vec_id", "embedding", k = 5,
            numCentroids = kc, nprobe = np, dims = dims, lloydSteps = steps),
          hofAnnIvfCentroids(qs, vecs, "vec_id", "embedding", k = 5,
            numCentroids = kc, nprobe = np, dims = dims, lloydSteps = steps)) > 0)
      // 60 ids over 5 distinct vectors: the 8 seeds must hold
      // duplicates, and the duplicate cells empty out in the refine
      val s = spark; import s.implicits._
      val rnd = new scala.util.Random(14)
      val protos = Array.fill(5)(Array.fill(8)((rnd.nextInt(2001) - 1000) / 1000.0f))
      val few = (0L until 60L).map(i => (i, protos((i % 5).toInt))).toDF("vec_id", "embedding")
      val fq = few.where(col("vec_id") % 7 === 0)
      assertSame(
        SimilarityOps.annIvfCentroids(fq, few, "vec_id", "embedding", k = 5,
          numCentroids = 8, nprobe = 3, dims = 8),
        hofAnnIvfCentroids(fq, few, "vec_id", "embedding", k = 5,
          numCentroids = 8, nprobe = 3, dims = 8, lloydSteps = 1))
    } finally vecs.unpersist()
  }

  test("annIvfCentroids: kernels == former pipeline on the sf0.001 embeddings table") {
    val e = Tables.load(spark, d, "embeddings")
    val qs = e.where(col("vec_id") % 50 === 0)
    assert(assertSame(
      SimilarityOps.annIvfCentroids(qs, e, "vec_id", "embedding", k = 5,
        numCentroids = 8, nprobe = 2),
      hofAnnIvfCentroids(qs, e, "vec_id", "embedding", k = 5,
        numCentroids = 8, nprobe = 2, dims = 64, lloydSteps = 1)) > 0)
  }
}
