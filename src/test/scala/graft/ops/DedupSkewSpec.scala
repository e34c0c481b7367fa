package graft.ops

import graft.SparkSpec

/** Skew and hardening gates for the dedup operators (VERDICT r3 #3/#6):
  *  - the Jaccard df-cap must survive a MEGA-HOT shingle (one shingle
  *    in every doc — 20%+ of all shingle rows) without funneling its
  *    occurrences into a single task: the cap count is a
  *    partial-aggregated groupBy, never a window partitioned by the
  *    shingle, and the result still matches a collections twin;
  *  - connectedComponents' reliable-checkpoint mode must agree with
  *    the default RDD-truncation mode (same union-find oracle).
  */
class DedupSkewSpec extends SparkSpec {

  /** Collections twin of ngramJaccardPairs (same tokenizer, distinct
    * word shingles, doc-frequency cap, exact rational threshold).
    */
  private def jaccardTwin(docs: Seq[(Long, String)], n: Int, num: Int, den: Int,
                          maxDf: Long): Set[(Long, Long, Long, Long, Long)] = {
    val tok = "[a-z]+".r
    val sets = docs.map { case (id, t) =>
      val ws = tok.findAllIn(t.toLowerCase).toVector
      id -> ws.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet
    }.toMap
    val df = sets.values.flatten.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val capped = sets.view.mapValues(_.filter(s => maxDf <= 0 || df(s) <= maxDf)).toMap
    (for {
      (a, sa) <- capped.toSeq; (b, sb) <- capped.toSeq if a < b
      shared = sa.intersect(sb).size
      if shared > 0 && shared * den >= (sa.size + sb.size - shared) * num
    } yield (a, b, shared.toLong, sa.size.toLong, sb.size.toLong)).toSet
  }

  test("jaccard df-cap: mega-hot shingle (in 100% of docs) — correct and window-free") {
    val s = spark; import s.implicits._
    // every doc carries the phrase "aaa bbb ccc" → the shingle
    // "aaa bbb ccc" has df = 300 (6× past maxDf = 50) and is 25% of
    // ALL shingle rows (4 shingles/doc); docs 2k/2k+1 additionally
    // share pair-unique words so real near-dup pairs survive the cap
    // letter-encoded ids: the tokenizer is [a-z]+, so digit suffixes
    // would collapse ("dddN" → "ddd" for every doc)
    def enc(v: Long): String = v.toString.map(c => ('a' + (c - '0')).toChar).mkString
    val docs = (0L until 300L).map { i =>
      (i, s"aaa bbb ccc ddd${enc(i / 2)} eee${enc(i / 2)} f${enc(i)}x")
    }
    val df = docs.toDF("doc_id", "text")
    val q = DedupOps.ngramJaccardPairs(df, "doc_id", "text",
      n = 3, num = 1, den = 3, maxDf = 50L)
    // plan gate: the only window partitions by doc_id (the per-doc
    // size — its exchange doubles as the self-join's shared
    // materialization point); the df-cap must NOT be a window over
    // the shingle hash — that shape lands every hot-shingle row in
    // one task
    val p = q.queryExecution.executedPlan.toString
    val winLines = p.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty, s"expected the per-doc size window:\n$p")
    assert(!winLines.exists(l => l.contains("__sh") || l.contains("shingle")),
      s"df-cap regressed to a shingle-partitioned window:\n$p")
    // correctness under skew vs the collections twin
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = jaccardTwin(docs, n = 3, num = 1, den = 3, maxDf = 50L)
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.size >= 100, "fixture must produce real surviving pairs")
  }

  test("connectedComponents: reliable-checkpoint mode == default mode == union-find") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val n = 80
    val ids = (0L until n.toLong).toDF("doc_id")
    val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val pairs = edges.toDF("id_a", "id_b")
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val ckDir = java.nio.file.Files.createTempDirectory("cc-ck").toString
    // the context checkpoint dir selects reliable mode; it is cleared
    // in the finally so later suites on the shared context keep the
    // local-checkpoint path
    s.sparkContext.setCheckpointDir(ckDir)
    try {
      // the DISTRIBUTED loop, so reliable checkpointing is actually
      // exercised (the default path would run the driver union-find
      // and write no checkpoint files)
      val gotCk = DedupOps.pointerJumping(ids, "doc_id", pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotCk == want, "checkpoint mode diverged from union-find oracle")
      // the size-adaptive driver path must agree as well
      val gotSmall = DedupOps.connectedComponents(ids, "doc_id", pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotSmall == want, "small-graph driver path diverged from union-find oracle")
      // checkpoint files actually landed in the reliable dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no checkpoint files under $ckDir")
    } finally org.apache.spark.CheckpointDirAccess.clear(s.sparkContext)
    assert(s.sparkContext.getCheckpointDir.isEmpty, "the shared context must keep no checkpoint dir")
  }
}
