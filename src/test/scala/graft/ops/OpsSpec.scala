package graft.ops

import graft.SparkSpec
import graft.report.Report
import org.apache.spark.sql.functions._

/** Unit tests for the pipeline operators (dedup / similarity / text /
  * multimodal / report) on hand-built micro-corpora with obvious
  * ground truth. The sf0.01 DuckDB oracle covers the same operators
  * at volume; these pin the semantics readably.
  */
class OpsSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"),  // near dup of 1
      (4L, "der hund und die katze sind da und das ist gut"),
      (5L, "zzz qqq xxx")).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    val got = DedupOps.exact(docs, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val dupClass = got.find(_._3 == 2L)
    assert(dupClass.exists(_._2 == 1L), "dup class must keep doc 1")
    assert(got.length == 4)
  }

  test("ngram jaccard finds the near-dup pair and only it") {
    val got = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", n = 3, num = 7, den = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((2L, 3L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("connected components: pair graph → min-id cluster reps (chains force jumping)") {
    val s = spark; import s.implicits._
    // component {1,2,3} (clique-ish), singleton 4, pair {5,6}, and a
    // CHAIN 10-11-12-13-14-15 whose diameter exercises the pointer-
    // jumping rounds (plain one-hop propagation needs 5 rounds)
    val ids = (Seq(1L, 2L, 3L, 4L, 5L, 6L) ++ (10L to 15L)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L, 15L -> 10L)
    // default path (small graph → driver union-find)
    val got = DedupOps.connectedComponents(ids, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // forced distributed pointer-jumping loop (smallGraphMaxPairs = 0)
    val gotLoop = DedupOps.connectedComponents(ids, "doc_id", pairs, "id_a", "id_b",
        smallGraphMaxPairs = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLoop == want)
  }

  test("connected components == union-find oracle on random graphs (property)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 40 + trial * 20
      val ids = (0L until n.toLong).toDF("doc_id")
      val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val pairs = edges.toDF("id_a", "id_b")
      // union-find oracle with min-id representatives
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = DedupOps.connectedComponents(ids, "doc_id", pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial (n=$n)")
      // the distributed loop must agree with the driver union-find path
      val gotLoop = DedupOps.connectedComponents(ids, "doc_id", pairs, "id_a", "id_b",
          smallGraphMaxPairs = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotLoop == want, s"trial $trial (n=$n) loop path")
    }
  }

  test("minhash LSH candidates include identical docs") {
    val got = DedupOps.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), "identical docs share every band")
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs equal, near dups close, far docs far") {
    val got = DedupOps.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(got(1L), got(3L)) <= ham(got(1L), got(4L)))
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("langId picks the stopword-dominant language") {
    val got = TextOps.langId(docs, col("text"))
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(4L) == "de")
  }

  test("null text: langScore is NULL, langId still total, qualityGate drops the row") {
    // ADVICE r6: size(array_intersect) returns −1 for a NULL token
    // array under legacy sizeOfNull (and NULL under ANSI) where the
    // old Σ array_contains form — and the DuckDB oracle's retained sum
    // — return NULL. The explicit isNotNull guard pins NULL-in →
    // NULL-score regardless of engine setting; this row pins it in a
    // test because the sf corpora happen to contain no null text (the
    // 47/47 oracle pass alone would not constrain it).
    val s = spark; import s.implicits._
    val rows = Seq((1L, "the cat and the dog run for the hills"),
                   (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val score = rows.select(col("doc_id"),
      TextOps.langScore(TextOps.tokens(col("text")), "en").as("sc")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(score(1L).exists(_ > 0))
    assert(score(2L).isEmpty, "null text must score NULL, not -1")
    val langs = TextOps.langId(rows, col("text"))
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en")
    assert(langs.contains(2L), "langId stays total over null text")
    // the curation gate treats null like SQL WHERE: null predicate = drop
    val kept = rows.where(TextOps.qualityGate(col("text"), 1))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("quality counters are exact on a known sentence") {
    val got = TextOps.quality(docs.where(col("doc_id") === 1), col("text"))
      .select("n_tokens", "n_distinct_tokens", "stop_ratio_milli").collect()(0)
    assert(got.getLong(0) == 9)          // 9 words
    assert(got.getLong(1) == 8)          // 'the' twice
    assert(got.getLong(2) == 111)        // 1 stopword kind ('the') / 9 tokens
  }

  test("token counts: whitespace vs BPE-ish segmentation") {
    val s = spark; import s.implicits._
    val one = Seq((1L, "ab12 cd!ef")).toDF("doc_id", "text")
    val got = TextOps.tokenCounts(one, col("text"))
      .select("n_ws_tokens", "n_bpe_tokens").collect()(0)
    assert(got.getLong(0) == 2)  // "ab12", "cd!ef"
    assert(got.getLong(1) == 5)  // ab | 12 | cd | ! | ef
  }

  test("PII redaction: counts and redacts emails / phones / IPv4, leaves clean text alone") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org today"),
      (2L, "call +1 555 0100 99 or visit 10.1.2.3 now"),
      (3L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val byId = TextOps.redactPii(rows, "text")
      .select("doc_id", "n_emails", "n_phones", "n_ips", "clean_text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(byId(1L) == ((1L, 0L, 0L, "mail me at <EMAIL> today")))
    assert(byId(2L) == ((0L, 1L, 1L, "call <PHONE> or visit <IP> now")))
    assert(byId(3L) == ((0L, 0L, 0L, "nothing sensitive here at all")))
  }

  test("repetition signals: dup-word fraction, max run, top-bigram share") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (1L, "spam spam spam spam eggs"),   // run of 4, 5 tokens 2 distinct
      (2L, "a b a b a b"),                // alternating: top bigram 'a b' 3/5
      (3L, "all words here differ"),
      (4L, "")).toDF("doc_id", "text")
    val got = TextOps.repetition(rows, "text")
      .select("doc_id", "n_tokens", "dup_word_frac_milli", "max_word_run",
        "top_bigram_frac_milli").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((5L, 600L, 4L, 750L)))  // 3 dup of 5; 'spam spam' 3 of 4 bigrams
    assert(got(2L) == ((6L, 666L, 1L, 600L)))  // 4 dup of 6; 'a b' 3 of 5
    assert(got(3L) == ((4L, 0L, 1L, 333L)))    // all bigrams unique: 1 of 3
    assert(got(4L) == ((0L, 0L, 0L, 0L)))
  }

  test("contamination: shingle overlap against a benchmark slice") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a completely unrelated sentence here"),
      (3L, "quick brown fox leaps high")).toDF("doc_id", "text")
    val bench = Seq((0L, "the quick brown fox runs")).toDF("bid", "text")
    val got = TextOps.contamination(corpus, "doc_id", "text", bench, "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // bench shingles: {the quick brown, quick brown fox, brown fox runs}
    assert(got(1L) == ((2L, true)))   // shares 'the quick brown', 'quick brown fox'
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((1L, true)))   // shares 'quick brown fox'
  }

  test("sequence packing: bucketed scan == serial prefix sum, window math exact") {
    val s = spark; import s.implicits._
    // 40 docs with varying token counts; bucketWidth=4 forces 10
    // buckets so the cross-bucket offset composition is load-bearing
    val rows = (0L until 40L).map { id =>
      val n = (id % 7).toInt // includes empty docs (id % 7 == 0)
      (id, Seq.fill(n)("tok").mkString(" "))
    }
    val df = rows.toDF("doc_id", "text").repartition(5)
    val got = TextOps.packSequences(df, "doc_id", "text", seqLen = 10, bucketWidth = 4L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // serial twin
    var off = 0L
    rows.foreach { case (id, text) =>
      val n = text.split(" ").count(_.nonEmpty).toLong
      val first = off / 10
      val last = if (n > 0) (off + n - 1) / 10 else first
      val wins = if (n > 0) last - first + 1 else 0L
      assert(got(id) == ((n, off, first, last, wins)), s"doc $id")
      off += n
    }
  }

  test("winnow fingerprints: dup docs share all fingerprints") {
    val got = TextOps.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == byDoc(2L))
    assert(byDoc(1L) != byDoc(4L))
    val inter = byDoc(1L).intersect(byDoc(3L)).size.toDouble / byDoc(1L).size
    assert(inter > 0.5, "near dups share most fingerprints")
  }

  test("ANN brute-force: dup embedding is rank-1 neighbor, cosine 1") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), "a"),
      (1L, Array(1.0f, 0.0f, 0.0f), "a"),
      (2L, Array(0.9f, 0.1f, 0.0f), "a"),
      (3L, Array(0.0f, 1.0f, 0.0f), "b")).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.annBruteForce(vecs.where(col("vec_id") === 0), vecs,
      "vec_id", "embedding", k = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == ((1L, 1L, 1000000L)))  // identical vector, cos=1.0
    assert(got(1)._1 == 2L)
    val ivf = SimilarityOps.annIvf(vecs.where(col("vec_id") === 0), vecs,
      "vec_id", "embedding", "label", k = 5).collect()
    assert(ivf.forall(_.getLong(1) != 3L), "IVF restricts to the query's bucket")
  }

  test("ANN: a zero-norm vector gets a null cosine and ranks last (ANSI)") {
    val s = spark; import s.implicits._
    // 3 is all zero and 4 rounds to zero at ×1000: cosine is 0/0 —
    // NULL in DuckDB, DIVIDE_BY_ZERO under ANSI before try_divide
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f)),
      (4L, Array(0.0001f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val qs = vecs.where(col("vec_id") === 0 || col("vec_id") === 3)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Option[Long])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val bf = rows(SimilarityOps.annBruteForce(qs, vecs, "vec_id", "embedding", k = 5))
    assert(bf == Set(
      (0L, 1L, 1L, Some(1000000L)), (0L, 2L, 2L, Some(993883L)), (0L, 5L, 3L, Some(0L)),
      (0L, 3L, 4L, None), (0L, 4L, 5L, None),
      // a zero query: every cosine null, ranked by neighbor id
      (3L, 0L, 1L, None), (3L, 1L, 2L, None), (3L, 2L, 3L, None),
      (3L, 4L, 4L, None), (3L, 5L, 5L, None)))
    // probing every cell makes IVF exact: the same rows
    for (kc <- Seq(1, 3))
      assert(rows(SimilarityOps.annIvfCentroids(qs, vecs, "vec_id", "embedding", k = 5,
        numCentroids = kc, nprobe = kc, dims = 3)) == bf, s"K = $kc")
    // cell assignment: a zero-norm centroid (cid 3) ranks after the
    // real ones; a zero-norm vector's cosines are all null, so cid decides
    val cents = SimilarityOps.quantized(vecs.where(col("vec_id").isin(1, 3, 5)),
        "vec_id", "embedding")
      .select(col("vec_id").as("cid"), col("qv").as("cent_qv"), col("nsq").as("cent_nsq"))
    val cells = SimilarityOps.assignCells(vecs, "vec_id", "embedding", 2,
        SimilarityOps.centArrOf(cents))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells.filter(_._1 == 2L) == Set((2L, 1L), (2L, 5L)))
    assert(cells.filter(_._1 == 4L) == Set((4L, 1L), (4L, 3L)))
  }

  test("IVF ANN: hash-sampled + Lloyd-refined centroids — recall@5 vs brute force") {
    val s = spark; import s.implicits._
    import graft.gen.Fixtures
    // 160 deterministic pseudo-random vectors in 8 dims
    val vecs = (0L until 160L).map { id =>
      (id, Array.tabulate(8)(j =>
        (math.floorMod(Fixtures.hashKey("emb", id, j), 2001L) - 1000L) / 1000.0f))
    }.toDF("vec_id", "embedding")
    val qs = vecs.where(col("vec_id") % 20 === 0)
    def topsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val bf = topsOf(SimilarityOps.annBruteForce(qs, vecs, "vec_id", "embedding", k = 5))
    val ivf = topsOf(SimilarityOps.annIvfCentroids(qs, vecs, "vec_id", "embedding",
      k = 5, numCentroids = 4, nprobe = 2, dims = 8))
    val recalls = bf.map { case (q, want) =>
      ivf.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val recall = recalls.sum / recalls.size
    info(f"IVF recall@5 = $recall%.2f (nprobe 2 of 4 Lloyd-refined cells, " +
      f"${bf.size} queries)")
    // probing half the cells of a refined quantizer must beat the
    // ~nprobe/K floor of random cells by a wide margin; this is a
    // sanity bound, the measured value is reported above
    assert(recall >= 0.4, f"recall@5 $recall%.2f below sanity floor")
  }

  test("DotProductQ: codegen'd expression == built-in higher-order twin") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextLong() % 1000), Array.fill(64)(rnd.nextLong() % 1000))
    } :+ ((201L, Array.empty[Long], Array.fill(3)(5L))) // length mismatch → min-length dot = 0
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        SimilarityOps.dotQ(col("a"), col("b")).as("fast"),
        SimilarityOps.dotQBuiltins(col("a"), col("b")).as("slow"))
      .collect()
    got.foreach { r =>
      val fast = r.getLong(1)
      // the built-in twin zip_with-pads with null on length mismatch →
      // null result; the expression defines min-length semantics
      if (!r.isNullAt(2)) assert(fast == r.getLong(2), s"id ${r.getLong(0)}")
      else assert(fast == 0L)
    }
    // null array input → null out
    val n = Seq((1L, null: Array[Long], Array(1L, 2L))).toDF("id", "a", "b")
      .select(SimilarityOps.dotQ(col("a"), col("b"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("embedding LSH pairs: subset of exact pairs (same cos), high recall on near dups") {
    val s = spark; import s.implicits._
    import graft.gen.Fixtures
    // 60 pseudo-random 16-dim vectors + 20 near-clones (tiny additive
    // perturbation → cos ≈ 0.999); near-clone pairs are the ground
    // truth the LSH blocking must recover
    def rnd(id: Long, j: Int): Float =
      (math.floorMod(Fixtures.hashKey("lshv", id, j), 2001L) - 1000L) / 1000.0f
    val base = (0L until 60L).map(id => (id, Array.tabulate(16)(j => rnd(id, j))))
    val clones = (0L until 20L).map(k =>
      (100L + k, Array.tabulate(16)(j => rnd(k, j) + 0.005f * ((j % 3) - 1))))
    val vecs = (base ++ clones).toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit("all"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exact = pairSet(SimilarityOps.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      "label", num = 9, den = 10))
    val lsh = pairSet(SimilarityOps.embeddingLshPairs(vecs, "vec_id", "embedding",
      num = 9, den = 10, dims = 16))
    // LSH contract: every reported pair truly passes (verify is exact)
    // and carries the identical cos_micro
    lsh.foreach { case (pair, cosMicro) =>
      assert(exact.get(pair).contains(cosMicro), s"LSH pair $pair not in exact set")
    }
    // recall over the planted near-clone pairs
    val planted = (0L until 20L).map(k => (k, 100L + k)).filter(exact.contains)
    assert(planted.nonEmpty)
    val found = planted.count(lsh.contains)
    val recall = found.toDouble / planted.size
    info(f"embedding-LSH recall on planted near-dups: $recall%.2f (${planted.size} pairs)")
    assert(recall >= 0.7, f"recall $recall%.2f below sanity floor")
  }

  test("embedding near-dup pairs: exact rational threshold") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), "a"),
      (1L, Array(1.0f, 0.001f), "a"),
      (2L, Array(0.0f, 1.0f), "a")).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.embeddingNearDupPairs(vecs, "vec_id", "embedding", "label",
      num = 99, den = 100).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)))
  }

  test("multimodal decode: schema + deterministic stub metadata") {
    val media = MultimodalOps.deriveMedia(docs.withColumn("doc_id", col("doc_id") * 2))
    val meta = MultimodalOps.decodeMeta(media)
    assert(meta.columns.toSeq ==
      Seq("doc_id", "media_ref", "width", "height", "n_frames", "modality"))
    val rows = meta.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) % 16 == 0 && r.getLong(2) >= 16 && r.getLong(2) <= 256)
      assert(Set("image", "audio", "video")(r.getString(5)))
    }
    // determinism: same input → same metadata
    val again = MultimodalOps.decodeMeta(media).collect().map(_.toString).sorted
    assert(again.toSeq == rows.map(_.toString).sorted.toSeq)
  }

  test("multimodal frame sample: stride, resize bound, per-frame feature") {
    val media = MultimodalOps.deriveMedia(docs.withColumn("doc_id", col("doc_id") * 2))
    val meta = MultimodalOps.decodeMeta(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val frames = MultimodalOps.sampleFrames(media, everyK = 2, maxDim = 64).collect()
    assert(frames.nonEmpty)
    val byDoc = frames.groupBy(_.getLong(0))
    byDoc.foreach { case (id, fs) =>
      val (w, h, nf) = meta(id)
      // stride: exactly the even frame indexes below n_frames
      assert(fs.map(_.getLong(2)).sorted.toSeq == (0L until nf by 2).toSeq)
      fs.foreach { f =>
        // resize preserves the bound and integer aspect math
        val (rw, rh) = (f.getLong(4), f.getLong(5))
        assert(rw <= 64 && rh <= 64)
        val longest = math.max(w, h)
        if (longest <= 64) assert(rw == w && rh == h)
        else assert(rw == w * 64 / longest && rh == h * 64 / longest)
        // feature = nibble sum of the 4-hex-char frame
        val hex = f.getString(3)
        assert(hex.length == 4)
        assert(f.getLong(6) == hex.map(java.lang.Character.digit(_, 16).toLong).sum)
      }
    }
  }

  test("widen: first-positive-else-first + pivot + flag join (A4/A5/J3)") {
    val s = spark; import s.implicits._
    val longRows = Seq(
      ("d1", "存货", "N/A", false, 0L),
      ("d1", "存货", "1,000.50", true, 1L),   // first positive wins over earlier N/A
      ("d1", "无形资产", "0", false, 2L),
      ("d2", "开发支出", "7", true, 0L),
      ("d2", "开发支出", "9", true, 1L))      // first positive (7) wins
      .toDF("doc_id", "item", "amount_str", "has_flag", "seq")
    val got = Report.widen(longRows).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("d1").getString(1) == "1,000.50")
    assert(got("d1").getString(2) == "0")
    assert(got("d2").getString(3) == "7")
    assert(got("d1").getBoolean(4) && got("d2").getBoolean(4))
  }
}
