package graft.extract

import graft.model.Span
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-pipeline scalar functions + the interleaved-document
  * extraction operator.
  *
  * Reference semantics (see SURVEY.md §2.8, §3.2):
  *  - E-str4 normalize: report_info_collection.py:42-49
  *  - E-str6 first-number ladder: report_info_collection.py:97-120
  *  - F7 keyword predicate: report_info_collection.py:167-174
  *  - E-arr2 parent category: report_info_collection.py:122-139,188-190
  *  - span order contract: report_info_collection.py:152-197 — the
  *    (page, table, row) lexicographic position is the spans array's
  *    `offset` field; extraction must respect it.
  *
  * Extraction is one deterministic Scala UDF per document: a stable
  * sort of its spans by `offset`, then a single left fold built from
  * the Scala twins (`normalizeTextScala`, `extractFirstNumberScala`,
  * `positiveAmountScala`), exploded next to the untouched doc_id —
  * a narrow map-only pass, no shuffle (each doc's spans are bounded;
  * docs are the parallelism unit). The same fold written as built-in
  * higher-order functions (`aggregate` over `array_sort`) is
  * CodegenFallback in Spark 4.1: it ran interpreted per span, with no
  * common-subexpression elimination, and made the extract layer of
  * perfbench's frontier_1host workload 2.5× slower (median traced self
  * time 1.08 s vs 0.44 s over four runs, 4 vCPU). CanonExtractSpec
  * keeps that form as the differential oracle.
  *
  * The Column helpers remain: `extractFirstNumber`, `parseAmount` and
  * `cleanSentinel` serve `Report`, `RelationalQueries` and
  * `CrawlQueries`. CanonExtractSpec pins each helper that has a Scala
  * twin against it; it also keeps E-str4 as a Column for its oracle.
  */
object Extract {

  val TargetKeyword = "其中：数据资源"
  val Categories: Seq[String] = Seq("存货", "无形资产", "开发支出")
  /** Sentinel strings treated as empty/zero (F8) — union of the
    * reference's five slightly-different site-local sets
    * (report_info_collection.py:66,456-458,534,657,680).
    */
  val Sentinels: Seq[String] = Seq("", "N/A", "空值", "-", "nan", "None")

  private val Whitespace = "\\s+".r

  /** E-str4: drop newlines, half→full-width colon, strip all
    * whitespace.
    */
  def normalizeTextScala(s: String): String =
    Whitespace.replaceAllIn(s.replace(":", "："), "")

  /** E-str6: ordered regex ladder, first match wins:
    * grouped-decimal-2dp → grouped-decimal → grouped-int →
    * plain-decimal → plain-int. Null when nothing matches.
    *
    * DOCUMENTED divergence from the reference
    * (report_info_collection.py:100-107): its first pattern
    * `((?:\d{1,3},)*\d{1,3}\.\d{2})` is unanchored with a `*` on the
    * comma groups, so on a plain ≥4-digit decimal like "1234.56"
    * re.search matches the SUBSTRING "234.56" — a truncated amount.
    * This ladder requires at least one comma group before taking the
    * grouped branch, so it returns the full "1234.56" (same class of
    * deliberate reference-bug fix as F1's NameError and E-date4;
    * pinned in CanonExtractSpec, exercised by the fixtures' plain
    * ≥4-digit decimal amount style).
    */
  private val LadderPatterns = Seq(
    "\\d{1,3}(,\\d{3})+\\.\\d{2}",
    "\\d{1,3}(,\\d{3})+\\.\\d+",
    "\\d{1,3}(,\\d{3})+",
    "\\d+\\.\\d+",
    "\\d+")

  def extractFirstNumber(c: Column): Column =
    coalesce(LadderPatterns.map(p => nullif(regexp_extract(c, p, 0), lit(""))): _*)

  private val LadderRegexes = LadderPatterns.map(_.r)

  def extractFirstNumberScala(s: String): Option[String] =
    LadderRegexes.iterator.flatMap(_.findFirstIn(s)).nextOption()

  /** E-str8: comma/space-strip then exact decimal parse. try_cast:
    * Spark 4 runs ANSI mode, and sentinel junk must yield null, not
    * an error (the reference's float() is wrapped in try/except).
    */
  def parseAmount(c: Column): Column =
    regexp_replace(c, "[,\\s]", "").try_cast("decimal(20,2)")

  private val AmountJunk = "[,\\s]".r

  /** Scala twin of `parseAmount(c) > 0` (null counts as false): the
    * same strip, then decimal(20,2) — round HALF_UP to 2 places, null
    * past 20 digits of precision. The integral-digit test first keeps
    * junk like "1e999999999" from being expanded by `setScale`.
    */
  def positiveAmountScala(s: String): Boolean =
    try {
      val d = new java.math.BigDecimal(AmountJunk.replaceAllIn(s, "").trim)
      d.precision - d.scale <= 18 && {
        val r = d.setScale(2, java.math.RoundingMode.HALF_UP)
        r.precision <= 20 && r.signum > 0
      }
    } catch { case _: NumberFormatException => false }

  /** F8: sentinel → '0', else unchanged. */
  def cleanSentinel(c: Column): Column =
    when(c.isNull || c.isin(Sentinels: _*), lit("0")).otherwise(c)

  /** The interleaved-docs extraction: docs(doc_id, spans) → long rows
    * (doc_id, item, amount_str, method, offset).
    *
    * Reference acceptance rules (report_info_collection.py:122-139,
    * 177-190), with two DOCUMENTED edge divergences:
    *  - cell-scan start: the reference re.search-scans cells starting
    *    AT the keyword cell, so digits occurring BEFORE the keyword
    *    inside that same cell (e.g. "2023年其中：数据资源") would
    *    supply the amount — a reference bug class (the title year
    *    becomes the amount); this engine scans only the text after the
    *    keyword (pinned in CanonExtractSpec).
    *  - multi-occurrence rows: the reference splits at the FIRST
    *    keyword occurrence; this engine at the LAST (rows with two
    *    occurrences of the full keyword do not occur in the corpus).
    *  - A keyword span emits only when a POSITIVE number follows the
    *    keyword: cells (the '|'-separated segments after the keyword)
    *    are scanned left→right and the first cell whose first number
    *    parses > 0 supplies the amount; a keyword row with no number,
    *    or only non-positive numbers, emits NOTHING (`if not
    *    found_value: continue`).
    *  - The item is the category named by the NEAREST PRIOR NON-EMPTY
    *    span: empty/media spans are skipped upward, but the first
    *    non-empty span either names a category or the item is ABORTED
    *    ("break" — a non-category text span, including a previous
    *    keyword row, RESETS the parent state; markers do not carry
    *    across intervening paragraphs).
    *  - A `kind='break'` span is a TABLE/PAGE BOUNDARY and resets the
    *    parent state: the reference confines its upward scan to the
    *    current table (`parent_row_idx >= 0` within `table`,
    *    report_info_collection.py:124-139), so a category header can
    *    never be inherited across a table break.
    */
  def extractLongRows(docs: DataFrame): DataFrame =
    // Single NARROW pass: one per-document fold, exploded next to the
    // untouched doc_id (whatever its type) — no shuffle at all.
    docs
      .select(col("doc_id"), explode(foldSpansUdf(col("spans"))).as("r"))
      .select(col("doc_id"), col("r.item").as("item"),
        col("r.amount_str").as("amount_str"),
        lit("table_scan").as("method"), col("r.offset").as("offset"))

  /** One accepted keyword row of a document (the fold's output). */
  final case class SpanHit(item: String, amount_str: String, offset: Int)

  private val foldSpansUdf = udf((spans: Seq[Span]) => foldSpans(spans))

  /** The per-document left fold behind [[extractLongRows]]: spans in
    * `offset` order (stable, so equal offsets keep array order;
    * `Ordering.Int` compares without subtracting, so no overflow), each
    * span's text normalized once, state = the current parent category.
    */
  private def foldSpans(spans: Seq[Span]): Seq[SpanHit] = {
    if (spans == null) return Nil
    val out = Seq.newBuilder[SpanHit]
    var cat: String = null
    for (s <- spans.sortBy(_.offset)) {
      if (s.kind == "break") cat = null // table boundary: reset
      else if (s.kind == "text" && s.text != null) {
        val n = normalizeTextScala(s.text)
        if (n.nonEmpty) {
          val k = n.lastIndexOf(TargetKeyword)
          if (k >= 0 && cat != null) {
            // first POSITIVE number, scanning '|'-cells after the
            // keyword (reference: per-cell extract, skip cells whose
            // number is not > 0, report_info_collection.py:177-184)
            val amount = n.substring(k + TargetKeyword.length).split("\\|", -1).iterator
              .flatMap(extractFirstNumberScala).find(positiveAmountScala)
            amount.foreach(a => out += SpanHit(cat, a, s.offset))
          }
          // any non-empty text span: the first named category
          // (reference scans normalized_cells for each PARENT_CATEGORY
          // in order), null when none — null RESETS the parent state
          cat = Categories.find(c => n.contains(c)).orNull
        }
      }
    }
    out.result()
  }

  /** J5: dense long output — every (doc, category) pair present,
    * amount '0', flag false when extraction found nothing
    * (report_info_collection.py:285-310).
    */
  def denseLongRows(docIds: DataFrame, longRows: DataFrame): DataFrame = {
    val spark = docIds.sparkSession
    import spark.implicits._
    val cats = Categories.zipWithIndex.toDF("item", "item_rank")
    val dense = docIds.select(col("doc_id")).distinct().crossJoin(broadcast(cats))
    dense.join(longRows, Seq("doc_id", "item"), "left_outer")
      .select(
        col("doc_id"), col("item"), col("item_rank"),
        cleanSentinel(col("amount_str")).as("amount_str"),
        col("amount_str").isNotNull.as("has_data_resource"))
  }
}
