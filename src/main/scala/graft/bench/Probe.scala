package graft.bench

import graft.{Bench, BenchLevel}
import graft.gen.Fixtures
import graft.snapshot.SnapshotLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main, one mode per lens:
  *  - `time <q[,q...]> [sfDir] [reps]`: wall per rep (rep1 is cold)
  *    into the noop sink;
  *  - `plan <outDir> <tag> [q,...]`: `.explain("formatted")` to
  *    `<outDir>/<q>_<tag>.txt` (the optimization rounds' before/after
  *    plan evidence) plus a one-line join/exchange/codegen summary;
  *  - `stages <q> [sfDir]`: per-stage wall, task CPU, shuffle
  *    write/read and spill of the warm rep — the byte-level lens the
  *    plan string doesn't give (the r5 lesson: `.explain` looked clean
  *    while the shuffle-byte dump exposed an exchange shipping unread
  *    columns);
  *  - `canary [reps]`: the quiet-box nominals of the bench's contention
  *    gate (see [[canary]]);
  *  - `scale [counts] [out] [q,...]`: the 10× curation scale probe
  *    (see [[scale]]).
  *
  * Usage: runMain graft.bench.Probe <mode> <args...>
  * `sfDir` defaults to the sf0.1 corpus (TESTDATA.md).
  * Env: SPARK_GRAFT_CPUS (default 32) sizes the session;
  *      SPARK_GRAFT_SF_DIR overrides `plan`'s sfDir.
  */
object Probe {
  private val DefaultSf = "/root/testdata/sf0.1"

  /** Time each query `reps` times into the noop sink — the bench's
    * measurement unit (full evaluation, VERDICT r5 #1). One line per rep.
    */
  def time(s: SparkSession, names: Seq[String], sfDir: String, reps: Int): Unit =
    names.foreach { name =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        noop(s, name, sfDir)
        println(f"[probe] time $name rep$i sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        // same between-rep scratch-block release as Bench.runQueries:
        // localCheckpoint blocks are otherwise GC-deferred and would
        // accumulate across reps, skewing the later ones
        release(s)
      }
    }

  /** Write each query's formatted explain to `<outDir>/<q>_<tag>.txt`
    * and print its [[planSummary]].
    */
  def plan(s: SparkSession, outDir: String, tag: String, names: Seq[String],
           sfDir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      // crawl_replay RUNS the whole multi-round loop on construction;
      // this dumps the final-report plan shape only (the loop times
      // its own rounds as `phase:<name>` rows of its metrics table).
      val (txt, summary) =
        try {
          val qe = graft.SparkEntry.queries(name)(s, sfDir).queryExecution
          (qe.explainString(FormattedMode), planSummary(qe.executedPlan.toString))
        } catch {
          case e: Throwable =>
            (s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}", "explain failed")
        }
      val path = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.writeString(path, txt)
      println(s"[probe] plan $name: $summary (wrote $path)")
      release(s)
    }
  }

  /** Join, exchange and codegen counts of an executed-plan string, plus
    * the number of scans with non-empty pushed filters.
    */
  private def planSummary(plan: String): String = {
    val lines = plan.split("\n")
    def n(op: String) = lines.count(_.contains(op))
    val pushed = "PushedFilters: \\[[^\\]]*[A-Za-z][^\\]]*\\]".r.findAllIn(plan).size
    s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
      s"shj=${n("ShuffledHashJoin")} exchanges=${n("Exchange")} " +
      s"codegenSpans=${n("WholeStageCodegen")} pushed=$pushed"
  }

  /** Run the query twice (the cold rep — JIT, codegen — is excluded) and
    * print one line per Spark stage of the warm rep, then its wall.
    */
  def stages(s: SparkSession, name: String, sfDir: String): Unit = {
    noop(s, name, sfDir)
    val m = StageMetrics.start(s.sparkContext)
    val t0 = System.nanoTime()
    val wall =
      try { noop(s, name, sfDir); (System.nanoTime() - t0) / 1e9 }
      finally m.stop().stages.foreach { st =>
        println(f"[probe] stage id=${st.id} tasks=${st.tasks} wall=${st.wallSec}%.2fs " +
          f"cpu=${st.cpuSec}%.2fs shW=${st.shuffleWriteBytes / 1e6}%.1fMB " +
          f"shR=${st.shuffleReadBytes / 1e6}%.1fMB spill=${st.spillBytes / 1e6}%.1fMB " +
          st.name.take(60))
      }
    println(f"[probe] stages $name warm_wall=$wall%.2f")
  }

  /** Print the CPU / memory / pointer-chase / spark canary walls on
    * THIS box (warmed min-of-`reps`) — the source of the quiet-box
    * nominals the bench's contention gate compares against (Bench:
    * SPARK_GRAFT_CANARY_* env knobs). Run when migrating boxes; on a
    * loaded box the readings are inflated — record the quiet minimum.
    * Use ~10 reps when re-basing a nominal so the JIT/allocator floor
    * is real (the spark canary keeps descending for several readings on
    * a fresh session). Builds and stops its own session per level.
    */
  def canary(reps: Int): Unit = {
    // JIT warm-up (memCanaryPar's first call also pays its one-time
    // buffer page faults; ptrChaseNs's first call builds the 256 MB
    // permutation)
    BenchLevel.cpuCanary(); BenchLevel.cpuCanaryPar(8)
    BenchLevel.memCanaryPar(8); BenchLevel.ptrChaseNs()
    val s1 = (1 to reps).map(_ => BenchLevel.cpuCanary())
    val p8 = (1 to reps).map(_ => BenchLevel.cpuCanaryPar(8))
    val p2 = (1 to reps).map(_ => BenchLevel.cpuCanaryPar(2))
    val m8 = (1 to reps).map(_ => BenchLevel.memCanaryPar(8))
    val m2 = (1 to reps).map(_ => BenchLevel.memCanaryPar(2))
    val pc = (1 to reps).map(_ => BenchLevel.ptrChaseNs())
    println(f"[canary] single=${s1.min}%.3f par8=${p8.min}%.3f par2=${p2.min}%.3f " +
      f"mem8=${m8.min}%.3f mem2=${m2.min}%.3f " +
      f"(all=${(s1 ++ p8 ++ p2 ++ m8 ++ m2).map(v => f"$v%.3f").mkString(",")})")
    println(f"[canary] mem8 aggregate ${8 * 0.25 / m8.min}%.1f GB/s, " +
      f"mem2 ${2 * 0.25 / m2.min}%.1f GB/s")
    println(f"[canary] ptr_chase=${pc.min}%.0f ns/access " +
      f"(all=${pc.map(v => f"$v%.0f").mkString(",")}; quiet class ~150-250, " +
      "r5's trashed-LLC neighbor state read ~330)")
    // spark-shaped canary at both gate levels (the gate's primary
    // probe; source of SPARK_GRAFT_CANARY_SPARK_NOMINALS) and at the
    // query-phase level (source of the query_spark_canary nominal)
    Seq(2, 8, 32).foreach { lvl =>
      val s = Bench.session(lvl, if (lvl == 32) 32 else 16)
      BenchLevel.sparkCanary(s) // codegen warm-up
      val r = (1 to reps).map(_ => BenchLevel.sparkCanary(s))
      println(f"[canary] spark$lvl=${r.min}%.3f " +
        f"(all=${r.map(v => f"$v%.3f").mkString(",")})")
      s.stop()
    }
  }

  /** 10× scale proof point for the CURATION family (VERDICT r6 #3): the
    * 20M replay proves the crawl path at 10×, but the dedup/text
    * operators had never run above sf0.1. This generates a documents
    * corpus with the sf corpus's shape (same schema, ~300-char
    * texts over a small vocabulary, sparse exact- and near-dup
    * structure) at each of `counts` rows from the SAME deterministic
    * generator (under /tmp, deleted once measured), runs `queries` at
    * each size, and writes walls, row counts and shuffle bytes of the
    * smallest and largest size to `outPath` as JSON (also printed), so
    * ~linear growth (banding/blocking working) is checkable against
    * quadratic blow-up in one artifact.
    *
    * The corpus is synthesized here, not copied: TESTDATA.md's parquet
    * is read-only and has no sf1. Dup structure is
    * index-local (a dup references fresh(i−k) for small k), so expected
    * pair counts grow LINEARLY in n by construction — which is exactly
    * what makes a super-linear measured growth a finding about the
    * OPERATOR, not the data.
    */
  def scale(s: SparkSession, counts: Seq[Long], outPath: String, queries: Seq[String]): Unit = {
    final case class Reading(n: Long, query: String, sec: Double, rows: Long, shMb: Double)
    val readings = Seq.newBuilder[Reading]
    // min-of-2: the first canary on a cold JVM pays one-time JIT (a
    // 27 s reading in the first probe run) and brackets nothing.
    val canaryPre = math.min(BenchLevel.sparkCanary(s), BenchLevel.sparkCanary(s))
    counts.foreach { n =>
      val dir = s"/tmp/curate_scale_$n"
      generate(s, n, dir)
      queries.foreach { q =>
        val rows = graft.SparkEntry.queries(q)(s, dir).count() // warm-up + the pair/row count
        val secs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          noop(s, q, dir)
          (System.nanoTime() - t0) / 1e9
        }
        // shuffle BYTES of a third run (the r5 lesson: .explain looked
        // clean while the shuffle-byte dump exposed the dedup exchange
        // shipping unread columns), converted to MB once per window — a
        // per-stage truncation would zero small-n legs of many sub-MB
        // stages, destroying the lo-vs-hi ratio the probe reports
        val m = StageMetrics.start(s.sparkContext)
        noop(s, q, dir)
        val mb = m.stop().shuffleBytes.toDouble / (1 << 20)
        val sec = secs.min
        readings += Reading(n, q, sec, rows, mb)
        println(f"[curatescale] n=$n $q sec=$sec%.2f rows=$rows shuffleMB=$mb%.1f")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    val canaryPost = BenchLevel.sparkCanary(s)
    val rs = readings.result()
    val loN = counts.min; val hiN = counts.max
    def f2(d: Double) = Bench.num(String.format(java.util.Locale.ROOT, "%.2f", Double.box(d)))
    val json = SnapshotLog.Json.createObjectNode()
      .put("probe", "curate_scale").put("n_lo", loN).put("n_hi", hiN)
    json.putArray("spark_canary").add(f2(canaryPre)).add(f2(canaryPost))
    val perQuery = json.putObject("queries")
    queries.foreach { q =>
      val lo = rs.find(r => r.n == loN && r.query == q).get
      val hi = rs.find(r => r.n == hiN && r.query == q).get
      perQuery.putObject(q)
        .put("sec_lo", f2(lo.sec)).put("sec_hi", f2(hi.sec))
        .put("wall_ratio", f2(hi.sec / lo.sec))
        .put("rows_lo", lo.rows).put("rows_hi", hi.rows)
        .put("rows_ratio", f2(hi.rows.toDouble / math.max(1, lo.rows)))
        .put("shuffle_mb_lo", f2(lo.shMb)).put("shuffle_mb_hi", f2(hi.shMb))
        .put("shuffle_ratio", f2(hi.shMb / math.max(0.01, lo.shMb)))
        .put("linear_would_be", f2(hiN.toDouble / loN))
    }
    val line = SnapshotLog.Json.writeValueAsString(json)
    println(line)
    val p = java.nio.file.Paths.get(outPath)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, line + "\n")
  }

  /** Pure per-index token stream, the generator's "fresh" text. */
  private val vocab: Array[String] = Array(
    "spark", "batch", "stream", "table", "column", "row", "key", "value",
    "join", "group", "agg", "sort", "scan", "filter", "window", "merge",
    "hash", "part", "query", "data", "fast", "slow", "small", "big",
    "order", "line", "a", "the", "and", "of", "to", "in", "for", "with",
    "dedup", "token", "shard", "bucket", "frame", "plan")

  /** Per-position token: 50% from the stopword-ish base vocab (keeps
    * the quality gate's stopword-ratio realistic), 50% from a 4000-word
    * long tail. The tail is load-bearing for the SCALE reading: with
    * the base-40 vocab alone, 64-bit simhash fingerprints saturate as
    * n grows and ACCIDENTAL hamming-≤3 pairs grow ~quadratically
    * (first probe run: simhash pair count 83→3265 on 10× data, a
    * corpus artifact that would mask a real blocking regression).
    * With the tail, planted index-local dups dominate every pair
    * family, so expected pair counts grow linearly by construction.
    *
    * Tail words are LETTER-ONLY: `TextOps.tokens` segments on [a-z]+
    * runs, so a digit-bearing word like "w123" collapses to "w" for
    * every tail draw — in that regime every fingerprint converged on
    * the shared high-count "w" token and simhash pairs hit ~n²/2 at
    * the LO leg (12.4M pairs on 5k docs, run-2 artifact).
    */
  private def freshTokens(i: Long): Seq[String] = {
    val len = 40 + Fixtures.draw(21, "len", i)
    (0 until len).map { p =>
      if (Fixtures.draw(2, "mix", i, p) == 0)
        vocab(Fixtures.draw(vocab.length, "tok", i, p))
      else {
        val t = Fixtures.draw(4000, "tail", i, p)
        s"w${('a' + t % 20).toChar}${('a' + t / 20 % 20).toChar}${('a' + t / 400 % 20).toChar}"
      }
    }
  }

  /** doc i's text: mostly fresh; ~0.5% an exact copy of a nearby
    * fresh text; ~1.5% a near-dup (2 tokens overwritten). References
    * are index-local, so dup pairs grow linearly with n.
    */
  private def textFor(i: Long): String = {
    if (i >= 211 && i % 211 == 5) freshTokens(i - 5).mkString(" ")
    else if (i >= 67 && i % 67 == 3) {
      val base = freshTokens(i - 3).toArray
      base(Fixtures.draw(base.length, "mut1", i)) =
        vocab(Fixtures.draw(vocab.length, "mutv1", i))
      base(Fixtures.draw(base.length, "mut2", i)) =
        vocab(Fixtures.draw(vocab.length, "mutv2", i))
      base.mkString(" ")
    } else freshTokens(i).mkString(" ")
  }

  private def generate(s: SparkSession, n: Long, dir: String): Unit = {
    import s.implicits._
    val langs = Array("en", "zh", "de", "es", "fr")
    s.range(n).mapPartitions(_.map { i =>
      val text = textFor(i)
      (i, text, langs(Fixtures.draw(langs.length, "lang", i)),
        s"src${Fixtures.draw(20, "src", i)}", text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def noop(s: SparkSession, name: String, sfDir: String): Unit =
    graft.SparkEntry.queries(name)(s, sfDir).write.format("noop").mode("overwrite").save()

  private def release(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def main(args: Array[String]): Unit = args.toList match {
    case "canary" :: rest => canary(rest.headOption.fold(3)(_.toInt))
    case cmd =>
      def csv(list: String) = list.split(",").toSeq
      val mode: SparkSession => Unit = cmd match {
        case "time" :: qs :: rest =>
          time(_, csv(qs), rest.headOption.getOrElse(DefaultSf),
            rest.lift(1).fold(2)(_.toInt))
        case "plan" :: outDir :: tag :: rest =>
          plan(_, outDir, tag,
            rest.headOption.fold(graft.SparkEntry.queries.keys.toSeq.sorted)(csv),
            sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSf))
        case "stages" :: q :: rest =>
          stages(_, q, rest.headOption.getOrElse(DefaultSf))
        case "scale" :: rest =>
          scale(_, csv(rest.headOption.getOrElse("5000,50000")).map(_.trim.toLong),
            rest.lift(1).getOrElse("BENCH/r7_sf1.json"),
            rest.lift(2).fold(Seq("pipeline_curate", "dedup_ngram_jaccard",
              "dedup_minhash_lsh", "dedup_clusters", "dedup_simhash", "dedup_simhash_pairs",
              "text_winnow_fingerprint", "text_contamination"))(csv))
        case _ =>
          System.err.println("usage: graft.bench.Probe time <q[,q...]> [sfDir] [reps]" +
            " | plan <outDir> <tag> [q,...] | stages <q> [sfDir] | canary [reps]" +
            " | scale [counts] [out.json] [q,...]")
          sys.exit(2)
      }
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
      val s = Bench.session(cpus, cpus)
      try mode(s) finally s.stop()
  }
}
