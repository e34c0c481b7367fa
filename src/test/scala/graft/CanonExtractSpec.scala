package graft

import graft.canon.Canon
import graft.extract.Extract
import graft.extract.Extract.{Categories, TargetKeyword, extractFirstNumber, normalizeText, parseAmount}
import graft.gen.Fixtures
import graft.model.{Doc, Span}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests: column expressions vs their pure-Scala twins
  * (SURVEY.md §5.3 — E-str/E-date functions), generated inputs via
  * scalacheck Gen, asserted exhaustively over the sample.
  */
class CanonExtractSpec extends SparkSpec {

  private def evalStr(c: org.apache.spark.sql.Column, input: Seq[String]): Seq[String] = {
    val s = spark; import s.implicits._
    input.toDF("v").select(c).collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
  }

  /** Test-only oracle: the former `Extract.extractLongRows`, the same
    * fold as built-in higher-order functions (interpreted per span),
    * kept verbatim as the differential reference for the Scala fold.
    */
  private def hofExtractLongRows(docs: DataFrame): DataFrame = {
    // Single NARROW pass: the per-document "nearest prior non-empty
    // span" scan is a left fold over the spans array (higher-order
    // aggregate), not a posexplode + window — no shuffle at all, and
    // each document's state is one (current_category, emitted) pair.
    // At the 10^10 design point this is the difference between a
    // map-only stage and re-sorting every span row by doc_id.
    val outType = "array<struct<item:string,amount_str:string,offset:int>>"
    val folded = aggregate(
      array_sort(col("spans"), (l, r) => l.getField("offset") - r.getField("offset")),
      struct(lit(null).cast("string").as("cat"),
        array().cast(outType).as("out")),
      (acc, s) => {
        val n = normalizeText(s.getField("text"))
        val isBreak = s.getField("kind") === "break"
        val nonEmpty = s.getField("kind") === "text" && n.isNotNull && (n =!= "")
        val hasK = nonEmpty && n.contains(TargetKeyword)
        // marker for ANY non-empty text span: the first named category
        // (reference scans normalized_cells for each PARENT_CATEGORY
        // in order), null when none — null RESETS the parent state
        val marker = Categories.foldRight(lit(null).cast("string")) { (c, alt) =>
          when(n.contains(c), lit(c)).otherwise(alt)
        }
        // first POSITIVE number, scanning '|'-cells after the keyword
        // (reference: per-cell extract, skip cells whose number is
        // not > 0, report_info_collection.py:177-184)
        val cellNums = transform(split(substring_index(n, TargetKeyword, -1), "\\|"),
          c => extractFirstNumber(c))
        val amount = get(filter(cellNums, x => x.isNotNull && parseAmount(x) > 0), lit(0))
        val emit = hasK && acc.getField("cat").isNotNull && amount.isNotNull
        val newOut = when(emit,
          concat(acc.getField("out"), array(struct(
            acc.getField("cat").as("item"), amount.as("amount_str"),
            s.getField("offset").as("offset")))))
          .otherwise(acc.getField("out"))
        struct(
          when(isBreak, lit(null).cast("string")) // table boundary: reset
            .when(nonEmpty, marker)
            .otherwise(acc.getField("cat")).as("cat"),
          newOut.as("out"))
      },
      acc => acc.getField("out"))
    docs
      .select(col("doc_id"), explode(folded).as("r"))
      .select(col("doc_id"), col("r.item").as("item"),
        col("r.amount_str").as("amount_str"),
        lit("table_scan").as("method"), col("r.offset").as("offset"))
  }

  /** Fold and oracle agree row for row: equal counts, empty
    * `exceptAll` both ways. Returns the row count.
    */
  private def assertSameAsOracle(docs: Seq[Doc]): Long = {
    val s = spark; import s.implicits._
    val df = docs.toDS().toDF().cache()
    try {
      val got = Extract.extractLongRows(df)
      val want = hofExtractLongRows(df)
      val n = got.count()
      assert(n == want.count())
      val extra = got.exceptAll(want).take(5)
      val missing = want.exceptAll(got).take(5)
      assert(extra.isEmpty && missing.isEmpty,
        s"fold only: ${extra.mkString(", ")}; oracle only: ${missing.mkString(", ")}")
      n
    } finally df.unpersist()
  }

  test("F1 titleFilter: empty targetYears degrades to the digit-free branch (ADVICE r5)") {
    // the reference with empty target_years keeps only digit-free
    // titles; the old reduce threw on Nil at plan-build time
    val s = spark; import s.implicits._
    val titles = Seq("2023年报", "年度报告", "Q3 2022", "报告", null)
    def keep(years: Seq[Int]): Seq[String] =
      titles.toDF("title").where(graft.report.Report.titleFilter(years)(col("title")))
        .collect().map(_.getString(0)).toSeq
    assert(keep(Nil) == Seq("年度报告", "报告"))
    assert(keep(Seq(2023)) == Seq("2023年报", "年度报告", "报告"))
  }

  test("URL canonicalizer: column expression == Scala twin (E-str1)") {
    val urls = Seq(
      "HTTPS://Static.Cninfo.COM.cn:443/final/x.pdf#frag",
      "http://a.example:80/p?q=1",
      "https://b.example/no-port/path",
      "https://c.example",
      "http://D.EXAMPLE:8080/x")
    val s = spark; import s.implicits._
    val got = urls.toDF("v").select(Canon.canonicalizeFull(col("v"))).collect().map(_.getString(0))
    assert(got.toSeq == urls.map(Canon.canonicalizeFullScala))
    assert(Canon.canonicalizeFullScala("HTTPS://X.Y:443/a#b") == "https://x.y/a")
    assert(Canon.hostOfScala("https://A.B:8080/x") == "a.b")
  }

  test("padCode/classifyExchange: column == Scala twin on generated codes") {
    val gen = Gen.oneOf(
      Gen.numStr.map(_.take(8)).suchThat(_.nonEmpty),
      Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty),
      Gen.oneOf("600941", "300750", "830001", "92099", "43", "0", "X12345"))
    val samples = Gen.listOfN(80, gen).sample.get
    val got = evalStr(Canon.classifyExchange(Canon.padCode(col("v"))), samples)
    val want = samples.map(c => Canon.classifyExchangeScala(Canon.padCodeScala(c)))
    assert(got == want)
  }

  test("first-number ladder: column == Scala twin on messy numerics (E-str6)") {
    val gen = Gen.oneOf(
      Gen.const("其中：数据资源 1,234,567.89 元"),
      Gen.const("约 1,234.5"), Gen.const("12,345"), Gen.const("3.14159 与 2"),
      Gen.const("42"), Gen.const("无数据"), Gen.const(""),
      Gen.const("a1,000b2,000.00c"), Gen.const("999 1,000.00"),
      Gen.chooseNum(0, 99999999).map(n => f"$n%,d"),
      Gen.chooseNum(0, 999999).map(n => s"前缀${n}后缀"))
    val samples = Gen.listOfN(120, gen).sample.get
    val got = evalStr(Extract.extractFirstNumber(col("v")), samples)
    val want = samples.map(sv => Extract.extractFirstNumberScala(sv).orNull)
    assert(got == want)
  }

  test("normalizeText: column == Scala twin (E-str4)") {
    val samples = Seq("a b\tc\nd", "其中: 数据资源", "  x　y ", "no-ws", "a:b:c")
    assert(evalStr(Extract.normalizeText(col("v")), samples) ==
      samples.map(Extract.normalizeTextScala))
  }

  test("announceDate handles the int-or-string union (E-date1/2)") {
    val s = spark; import s.implicits._
    val df = Seq(
      (java.lang.Long.valueOf(1717200000123L), null: String),
      (null: java.lang.Long, "2024-06-01 09:30:00"),
      (null: java.lang.Long, null: String)).toDF("ms", "str")
    val got = df.select(Canon.announceDate(col("ms"), col("str"))).collect()
      .map(r => Option(r.getDate(0)).map(_.toString).orNull)
    assert(got.toSeq == Seq("2024-06-01", "2024-06-01", null))
  }

  test("parseAmount: sentinels and junk yield null, not ANSI errors (E-str8)") {
    val s = spark; import s.implicits._
    val got = Seq("1,234.56", "N/A", "", "abc", " 7 ", "1,2,3").toDF("v")
      .select(Extract.parseAmount(col("v")).cast("string")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq == Seq("1234.56", null, null, null, "7.00", "123.00"))
  }

  test("extractLongRows: span order + parent category resolution (E-arr1/2)") {
    val s = spark; import s.implicits._
    import graft.model.{Doc, Span}
    val doc = Doc("d1", Seq(
      Span("text", "第1节 存货明细", null, 0),
      Span("media", null, "media://img/a", 1),       // empty: skipped upward
      Span("text", "其中：数据资源 | 1,234.56 | 元", null, 2),
      Span("text", "第2节 开发支出说明", null, 3),
      Span("text", "其中：数据资源 | N/A | 元", null, 4),
      Span("text", "其中：数据资源 | 99 | 元", null, 5)))
    val noCat = Doc("d2", Seq(Span("text", "其中：数据资源 | 5 | 元", null, 0)))
    val got = Extract.extractLongRows(Seq(doc, noCat).toDS().toDF())
      .orderBy("doc_id", "offset")
      .select("doc_id", "item", "amount_str", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    // reference acceptance rules (report_info_collection.py:122-190):
    //  off 2: parent 存货 across the media span, positive → emit
    //  off 4: N/A — no positive number → NO row ("continue")
    //  off 5: nearest prior non-empty is the keyword row at off 4,
    //         which names no category → ABORT ("break")
    //  d2: no prior span at all → abort
    assert(got.toSeq == Seq(("d1", "存货", "1,234.56", 2)))
  }

  test("extractLongRows: reference abort + positivity rules (E-arr2)") {
    val s = spark; import s.implicits._
    import graft.model.{Doc, Span}
    val docs = Seq(
      // header → NOISE → keyword: the nearest prior non-empty span
      // names no category → abort (markers must not carry across)
      Doc("a1", Seq(
        Span("text", "第1节 无形资产明细", null, 0),
        Span("text", "补充说明若干", null, 1),
        Span("text", "其中：数据资源 | 42 | 元", null, 2))),
      // header → empty-text + media → keyword: empties are skipped
      Doc("a2", Seq(
        Span("text", "第1节 无形资产明细", null, 0),
        Span("text", "  \n ", null, 1),
        Span("media", null, "media://x", 2),
        Span("text", "其中：数据资源 | 42 | 元", null, 3))),
      // zero amount in the first cell, positive in a later cell: the
      // reference scans cells rightward PAST non-positive numbers
      Doc("a3", Seq(
        Span("text", "存货", null, 0),
        Span("text", "其中：数据资源 | 0.00 | 77 | 元", null, 1))),
      // only a zero → no emission
      Doc("a4", Seq(
        Span("text", "存货", null, 0),
        Span("text", "其中：数据资源 | 0 |", null, 1))),
      // a keyword row that itself names a category parents the NEXT row
      Doc("a5", Seq(
        Span("text", "开发支出其中：数据资源 | 5 | 元", null, 0),
        Span("text", "其中：数据资源 | 6 | 元", null, 1))))
    val got = Extract.extractLongRows(docs.toDS().toDF())
      .orderBy("doc_id", "offset")
      .select("doc_id", "item", "amount_str", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(got.toSeq == Seq(
      ("a2", "无形资产", "42", 3),
      ("a3", "存货", "77", 1),
      ("a5", "开发支出", "6", 1)))
  }

  test("extractLongRows: a break span is a table boundary — parent resets (E-arr2)") {
    val s = spark; import s.implicits._
    import graft.model.{Doc, Span}
    val docs = Seq(
      // header | BREAK | keyword → abort: the reference's upward scan
      // stops at the current table's row 0
      // (report_info_collection.py:124-139) — a category header can
      // never be inherited across a table break
      Doc("b1", Seq(
        Span("text", "第1节 存货明细", null, 0),
        Span("break", null, null, 1),
        Span("text", "其中：数据资源 | 42 | 元", null, 2))),
      // header | BREAK | header2 | keyword → header2's category wins
      Doc("b2", Seq(
        Span("text", "第1节 存货明细", null, 0),
        Span("break", null, null, 1),
        Span("text", "第2节 开发支出明细", null, 2),
        Span("text", "其中：数据资源 | 7 | 元", null, 3))),
      // break among SKIPPED spans still resets (unlike media/empty)
      Doc("b3", Seq(
        Span("text", "无形资产", null, 0),
        Span("media", null, "media://x", 1),
        Span("break", null, null, 2),
        Span("media", null, "media://y", 3),
        Span("text", "其中：数据资源 | 9 | 元", null, 4))))
    val got = Extract.extractLongRows(docs.toDS().toDF())
      .orderBy("doc_id", "offset")
      .select("doc_id", "item", "amount_str", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(got.toSeq == Seq(("b2", "开发支出", "7", 3)))
  }

  test("E-str6 divergence pinned: plain ≥4-digit decimals are NOT truncated") {
    // The reference's first ladder pattern ((?:\d{1,3},)*\d{1,3}\.\d{2})
    // is unanchored with * on the comma groups, so re.search on
    // "1234.56" matches the SUBSTRING "234.56" (verified against
    // report_info_collection.py:100-107). This engine returns the full
    // number — a documented deliberate fix (SURVEY.md §2.8 E-str6).
    assert(Extract.extractFirstNumberScala("1234.56").contains("1234.56"))
    assert(Extract.extractFirstNumberScala("共 98765.43 元").contains("98765.43"))
    // the grouped branch still wins when a real comma group exists
    assert(Extract.extractFirstNumberScala("1,234.56").contains("1,234.56"))
    // column twin agrees
    val got = evalStr(Extract.extractFirstNumber(col("v")),
      Seq("1234.56", "共 98765.43 元", "1,234.56"))
    assert(got == Seq("1234.56", "98765.43", "1,234.56"))
  }

  test("parseAmount > 0: column == Scala twin positiveAmountScala (E-str8)") {
    val gen = Gen.oneOf(
      Gen.const("0.005"), Gen.const("0.001"), Gen.const("1234567890123456789"),
      Gen.const("999999999999999999.99"), Gen.const("999999999999999999.995"),
      Gen.const("1,234.56"), Gen.const(" 7 "), Gen.const("0"), Gen.const("0.00"),
      Gen.const("-5"), Gen.const("N/A"), Gen.const(""), Gen.const("abc"),
      Gen.const("1,2,3"), Gen.const("1.2.3"), Gen.const("元"), Gen.const("1e3"),
      Gen.const("1e999999999"), Gen.const("5e-3"),
      Gen.chooseNum(0, 99999999).map(n => f"$n%,d"),
      Gen.chooseNum(0L, 99999999999L).map(n => s"${n / 1000}.${n % 1000}"),
      Gen.alphaNumStr.map(_.take(6)))
    val samples = Gen.listOfN(120, gen).sample.get ++
      Seq("0.005", "0.001", "1234567890123456789", "junk")
    val s = spark; import s.implicits._
    val got = samples.toDF("v").select(coalesce(parseAmount(col("v")) > 0, lit(false)))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == samples.map(Extract.positiveAmountScala))
    assert(Extract.positiveAmountScala("0.005"))               // rounds up to 0.01
    assert(!Extract.positiveAmountScala("0.001"))              // rounds to 0
    assert(!Extract.positiveAmountScala("1234567890123456789")) // overflows decimal(20,2)
    assert(!Extract.positiveAmountScala("junk"))
  }

  test("extractLongRows: offsets far apart sort without ANSI overflow") {
    // a comparator that subtracts offsets overflows here
    // (Int.MaxValue - Int.MinValue): ARITHMETIC_OVERFLOW under ANSI
    // mode fails the whole task
    val s = spark; import s.implicits._
    val doc = Doc("o1", Seq(
      Span("text", "其中：数据资源 | 5 | 元", null, Int.MaxValue),
      Span("text", "存货", null, Int.MinValue),
      Span("text", "其中：数据资源 | 6 | 元", null, 0)))
    val got = Extract.extractLongRows(Seq(doc).toDS().toDF())
      .select("item", "amount_str", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // sorted: 存货 (MinValue) parents the row at 0; that keyword row
    // names no category, so the row at MaxValue aborts
    assert(got.toSeq == Seq(("存货", "6", 0)))
  }

  test("extractLongRows: Scala fold == higher-order oracle on fixture docs") {
    val docs = (0 until 6000).map(i => Fixtures.docFor(f"${Fixtures.UrlBase}$i%08d.PDF"))
    assert(assertSameAsOracle(docs) > 0)
  }

  test("extractLongRows: Scala fold == higher-order oracle on generated span arrays") {
    val cell = Gen.oneOf("5", "0", "0.00", "0.005", "0.001", "N/A", "", "  ", "1,234.56",
      "12345.67", "1234567890123456789", "约 3 元", "元")
    val keyword = for {
      colon <- Gen.oneOf(":", "：", " : ")
      pre <- Gen.oneOf("", "2023年", "存货", "开发支出 ")
      cells <- Gen.listOfN(3, cell)
      trail <- Gen.oneOf("", "|", " | ")
      twice <- Gen.oneOf(false, false, true)
      body = s"其中${colon}数据资源 | ${cells.mkString(" | ")}$trail"
    } yield pre + (if (twice) s"$body 其中：数据资源 | 7" else body)
    val text = Gen.frequency(
      3 -> keyword,
      2 -> Gen.oneOf(Categories).map(c => s"第1节 ${c}明细"),
      1 -> Gen.oneOf("补充说明若干", "无形资产与存货", "  \n\t ", "", "　"),
      1 -> Gen.const(null: String))
    val span = for {
      kind <- Gen.frequency(6 -> Gen.const("text"), 1 -> Gen.const("media"),
        1 -> Gen.const("break"), 1 -> Gen.const(null: String))
      t <- text
      off <- Gen.chooseNum(-3, 12)
    } yield Span(kind, t, null, off)
    val docs = Gen.listOfN(800, Gen.choose(0, 14).flatMap(Gen.listOfN(_, span))).sample.get
      .zipWithIndex.map { case (sp, i) => Doc(s"g$i", sp) }
    assert(assertSameAsOracle(docs) > 0)
  }
}
