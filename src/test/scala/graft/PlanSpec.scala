package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gates: the plan shapes the engine promises
  * (SURVEY.md §4.2, VERDICT r1 follow-ups) asserted against the
  * executed plan string, so a future edit that silently reintroduces
  * a shuffle / drops a broadcast / breaks pushdown fails `sbt test`,
  * not a bench round later. (`graft.bench.Probe plan` remains the
  * human-readable audit over the same plans.)
  */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** Operator-shape gates run with the small-input spread DISABLED
    * (isolated session, spread.maxBytes=0): the gates pin the shapes
    * the OPERATORS promise at the 100 TB design point, where the
    * spread never fires — its exchange would otherwise mask a real
    * "0 exchanges" regression (or trip the gate spuriously). The
    * spread rule itself has its own gate below.
    */
  private lazy val noSpread = {
    val s = spark.newSession()
    s.conf.set("spark.graft.spread.maxBytes", "0")
    s
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(noSpread, d).queryExecution.executedPlan.toString

  test("small-input spread: fires inside the size band, never outside") {
    import org.apache.spark.sql.functions.col
    // documents at sf0.001 (~64 KB) is inside [16 KB, 64 MB] → spread
    val on = Tables.load(spark, d, "documents")
      .where(col("doc_id") >= 0).queryExecution.executedPlan.toString
    assert(on.contains("Exchange RoundRobinPartitioning"),
      s"spread must fire on a small unsplittable table:\n$on")
    // region (~2 KB) is under the floor → narrow scan, no exchange
    val dim = Tables.load(spark, d, "region").queryExecution.executedPlan.toString
    assert(!dim.contains("Exchange"),
      s"spread must skip constant-size dims:\n$dim")
    // maxBytes=0 disables it globally (the design-point default state)
    val off = Tables.load(noSpread, d, "documents")
      .queryExecution.executedPlan.toString
    assert(!off.contains("Exchange"), s"spread must be disableable:\n$off")
  }

  private def count(p: String, needle: String): Int =
    p.split("\n").count(_.contains(needle))

  test("priority_topk: one TakeOrderedAndProject, zero exchanges (O5)") {
    val p = plan("priority_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(count(p, "Exchange") == 0,
      s"distributed top-k must not pay a full exchange:\n$p")
  }

  test("extract_long_rows: shuffle-free per-document fold (E-arr1/2)") {
    val p = plan("extract_long_rows")
    assert(count(p, "Exchange") == 0, s"the span fold must stay narrow:\n$p")
    // the fold must not run as interpreted higher-order functions
    // (~40% of a frontier pass's task CPU when it did); the derived
    // input's own `transform` sits in the Project below the Generate
    val generate = p.split("\n").filter(_.contains("Generate"))
    assert(generate.nonEmpty, p)
    for (hof <- Seq("aggregate(", "array_sort(", "lambdafunction"); line <- generate)
      assert(!line.contains(hof), s"interpreted $hof in the span fold:\n$p")
  }

  test("text_winnow_fingerprint: shuffle-free winnowing") {
    val p = plan("text_winnow_fingerprint")
    assert(count(p, "Exchange") == 0, p)
  }

  test("crawl_validate: narrow codegen'd predicate, filter pushdown-safe") {
    val p = plan("crawl_validate")
    assert(count(p, "Exchange") == 0, s"validation is metadata filtering:\n$p")
    // whole-stage codegen renders as "*(n)" operator prefixes here
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, p)
  }

  test("q2_region_revenue: star join broadcasts all three dims, prunes the scan") {
    val p = plan("q2_region_revenue")
    assert(count(p, "BroadcastHashJoin") >= 3, p)
    assert(p.contains("o_custkey") && !p.contains("o_comment"),
      s"orders scan must prune to the joined/aggregated columns:\n$p")
  }

  test("q4_anti_join: anti join stays a hash join (no cartesian)") {
    val p = plan("q4_anti_join")
    assert(p.contains("LeftAnti"), p)
    assert(count(p, "CartesianProduct") == 0, p)
  }

  test("ann_ivf_topk: centroid attach is a broadcast, never a cartesian") {
    val p = plan("ann_ivf_topk")
    assert(count(p, "BroadcastNestedLoopJoin") >= 1,
      s"the 1-row centroid-array attach must broadcast:\n$p")
    assert(count(p, "CartesianProduct") == 0, p)
    // assignment and refine are compiled kernels: no interpreted
    // centroid sort, no per-dimension sum aggregates
    assert(!p.contains("array_sort("), s"interpreted centroid sort:\n$p")
    assert(!p.contains("sum("), s"per-dimension sum aggregates:\n$p")
  }

  test("crawl_wide_report: flag join carries no forced broadcast hint (J3)") {
    // The flag side of Report.widen is one row per doc — O(docs), the
    // same cardinality as the pivot side. A forced broadcast() there
    // is a driver/executor broadcast bomb at the 100 TB design point;
    // the join must be left to Catalyst/AQE (both sides already hash
    // on doc_id). Guard: no ResolvedHint survives analysis.
    val analyzed = SparkEntry.queries("crawl_wide_report")(spark, d)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"widen must not force-broadcast an O(docs) join side:\n$analyzed")
  }

  test("dedup_exact: single aggregation exchange with partial aggregation") {
    val p = plan("dedup_exact")
    assert(count(p, "Exchange") == 1, s"exact dedup is one shuffle:\n$p")
    assert(count(p, "HashAggregate") >= 2, s"map-side partial agg expected:\n$p")
  }

  test("dedup_simhash_pairs: banded equi-join, never a cartesian, filter before distinct") {
    // the query entry returns a materialized checkpoint (cache
    // lifecycle, VERDICT r4 #4) — gate the LAZY plan behind it
    val docs = Tables.load(noSpread, d, "documents")
    val (fp, lazyPairs) = graft.ops.DedupOps.simhashPairsLazy(docs, "doc_id", "text", 3)
    try {
      // the fingerprint build is one narrow per-row map: no shuffle,
      // no aggregate, no interpreted higher-order function
      val f = fp.queryExecution.executedPlan.toString
      assert(f.contains("Generate"), s"the cached build must be in the plan:\n$f")
      for (op <- Seq("Exchange", "HashAggregate", "lambdafunction"))
        assert(count(f, op) == 0, s"$op in the fingerprint build:\n$f")
      val p = lazyPairs.queryExecution.executedPlan.toString
      assert(count(p, "CartesianProduct") == 0 && count(p, "BroadcastNestedLoopJoin") == 0,
        s"the 4x16-bit band blocking must plan as an equi-join:\n$p")
      // the pair distinct aggregates map-side before its exchange
      assert(count(p, "HashAggregate") >= 2, s"map-side partial agg expected:\n$p")
      // the hamming verify must run BELOW the pair-dedup so the
      // distinct exchange carries only qualifying pairs — Catalyst in
      // fact pushes the predicate all the way into the band join's
      // condition (bit_count(xor) <= 3 evaluated per candidate row)
      val lines = p.split("\n")
      val distinctIdx = lines.indexWhere(l =>
        l.contains("HashAggregate(keys=[id_a"))
      val verifyIdx = lines.indexWhere(_.contains("<= 3"))
      assert(distinctIdx >= 0 && verifyIdx > distinctIdx,
        s"hamming verify must sit below the pair-dedup aggregate:\n$p")
    } finally fp.unpersist()
  }

  test("dedup_ngram_jaccard: df-cap is a partial-agg anti-join, not a shingle window") {
    val p = plan("dedup_ngram_jaccard")
    val winLines = p.split("\n").filter(_.contains("windowspecdefinition"))
    assert(!winLines.exists(l => l.contains("shingle") || l.contains("__sh#")),
      s"df-cap must never shuffle a hot shingle's rows into one task:\n$p")
    assert(p.contains("LeftAnti"), s"heavy-hitter anti-join expected:\n$p")
  }

  test("dedup int64 wire format: jaccard + minhash exchanges carry hashed keys, not strings") {
    // round-7 byte shape: shingles/band-sigs cross every exchange as
    // xxhash64 INT64s; a regression to string keys would re-inflate
    // the curation family's largest shuffles ~2× (BENCH/BASELINE.md
    // round-7 tables) without failing any oracle
    val pj = plan("dedup_ngram_jaccard")
    assert(pj.contains("xxhash64"), s"jaccard must hash shingles:\n$pj")
    assert(!pj.contains("hashpartitioning(shingle"),
      s"jaccard exchange regressed to shingle strings:\n$pj")
    val pm = plan("dedup_minhash_lsh")
    assert(pm.contains("xxhash64"), s"minhash join must hash band sigs:\n$pm")
    assert(!pm.split("\n").exists(l =>
        l.contains("hashpartitioning(") && (l.contains("sig#") || l.contains("(band#"))),
      s"minhash band join regressed to (band, sig-string) keys:\n$pm")
  }

  test("text_pii / text_repetition: fully narrow (0 exchanges)") {
    Seq("text_pii", "text_repetition").foreach { q =>
      val p = plan(q)
      assert(count(p, "Exchange") == 0, s"$q must stay a narrow map:\n$p")
    }
  }

  test("text_pack_sequences: the only unpartitioned window runs over SUPER totals") {
    // Two-level distributed scan (VERDICT r4 #7): the data rows see a
    // __bkt-partitioned window, bucket totals see a __sup-partitioned
    // window, and the single global-order (unpartitioned) window in
    // the plan cumsums the super totals — N/bucketWidth² rows, never
    // anything data-proportional. WindowExec prints `Window [exprs],
    // [partSpec], [orderSpec]` when partitioned and omits the middle
    // list when not.
    val p = plan("text_pack_sequences")
    val winLines = p.split("\n").filter(_.contains("Window ["))
    val unpart = winLines.filter(l => "\\], \\[".r.findAllIn(l).size == 1)
    // 5 window nodes since the scan-once rework: the within-bucket
    // window, the bucket-total window appearing in BOTH bt-derived
    // branches (they dedup at runtime via exchange reuse — gated
    // below), the within-super window, and the one global window.
    assert(winLines.length == 5, s"expected 5 window nodes:\n$p")
    assert(unpart.length == 1 && unpart.head.contains("__stot"),
      s"exactly one unpartitioned window, over the super totals only:\n$p")
  }

  test("text_pack_sequences: ONE tokenize scan — the __bkt exchanges reuse") {
    // The packing scan is a plan diamond; before the r7 rework each
    // branch re-derived (and re-tokenized) the source — 3 scans, and
    // composed in pipeline_curate, 3 executions of the kept-side
    // anti-join. The fix makes every branch's exchange canonically
    // identical (same projection via a second window function, keys
    // non-nullable so no divergent isnotnull inference); this gate
    // pins it by checking the static reuse rule actually collapses
    // them (AQE's runtime stage dedup keys on the same
    // canonicalization, so green here means green adaptively).
    val key = "spark.sql.adaptive.enabled"
    val prev = noSpread.conf.get(key)
    try {
      noSpread.conf.set(key, "false")
      val p = plan("text_pack_sequences")
      assert(count(p, "ReusedExchange") >= 2,
        s"the bt/super branches must reuse the data exchange:\n$p")
      assert(count(p, "Scan parquet") == 1,
        s"pack must tokenize its input exactly once:\n$p")
    } finally noSpread.conf.set(key, prev)
  }

  test("text_contamination: shingle overlap is an equi-join, no cartesian") {
    val p = plan("text_contamination")
    assert(count(p, "CartesianProduct") == 0 && count(p, "BroadcastNestedLoopJoin") == 0, p)
  }

  test("parquet scans keep pushdown and pruning (the free Catalyst wins)") {
    import org.apache.spark.sql.functions.col
    val q = Tables.load(spark, d, "lineitem")
      .where(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"), p)
    assert("ReadSchema: [^\\n]*".r.findFirstIn(p).exists(s =>
      s.contains("l_orderkey") && s.contains("l_quantity") && !s.contains("l_comment")), p)
  }
}
