package graft.report

import graft.canon.Canon
import graft.extract.Extract
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage-1 postprocess and stage-2 wide-report operators.
  *
  * Every keep-first semantic from the reference (pandas implicit row
  * order) is made deterministic by an explicit arrival ordinal —
  * Spark's dropDuplicates gives no ordering guarantee (SURVEY.md
  * §2.4-§2.5). Keep-first on the unique ordinal alone is the min_by
  * aggregate `SeenFilter.firstWinsAgg` (a partial + final
  * SortAggregate); orders with no single min_by key (A3's
  * date-then-arrival, A4's first-positive) are `row_number` windows.
  */
object Report {

  /** Target report years for filter F1 (cninfo_report_crawler.py:
    * 111-122 — intended semantics; the reference's version raises
    * NameError on the missing `re` import and silently drops rows).
    *
    * Deliberately regex-free: the original `rlike("2023|2024") ||
    * !rlike("\\d")` ran two Java-regex matchers per row over the
    * hottest column in the engine (every candidate title, every
    * round). A fixed-literal alternation is `contains` (codegen'd
    * indexOf), and "has no ASCII digit" is `translate(c, digits, "")
    * === c` (one char scan) — semantically identical including null
    * propagation, measurably cheaper at the 20M-row scale point.
    */
  def titleFilter(targetYears: Seq[Int]) = {
    // foldLeft over lit(false), not reduce: an EMPTY target_years must
    // degrade to the digit-free branch alone (the reference keeps only
    // digit-free titles then) — reduce on Nil threw at plan-build time
    // (ADVICE r5).
    (c: org.apache.spark.sql.Column) =>
      targetYears.map(y => c.contains(y.toString))
        .foldLeft(lit(false))(_ || _) ||
        translate(c, "0123456789", "") === c
  }

  /** The stage-1 title rule: F1 ([[titleFilter]]) and the F2 摘要/英文版
    * exclusion (cninfo_report_crawler.py:111-126). The crawl applies
    * it to every listed title, the postprocess to the results table.
    */
  def stage1Filter(targetYears: Seq[Int]) = {
    val f1 = titleFilter(targetYears)
    (c: org.apache.spark.sql.Column) => f1(c) && (!c.contains("摘要") && !c.contains("英文版"))
  }

  /** Stage-1 postprocess (cninfo_report_crawler.py:515-537):
    * F1 year filter → F2 摘要/英文版 exclusion → code canonicalization
    * → A2 3-key keep-first dedup → A3 latest-per-code top-1 →
    * F6 projection. Input columns: (arrival_seq, sec_code_raw,
    * company, title, report_date, pdf_url).
    */
  def postprocessStage1(ann: DataFrame, targetYears: Seq[Int]): DataFrame = {
    val filtered = ann
      .where(stage1Filter(targetYears)(col("title")))
      .withColumn("sec_code", Canon.classifyExchange(Canon.padCode(col("sec_code_raw"))))
    // A2: keep first arrival per (code, company, title) — min_by
    // over the unique arrival ordinal (≡ a row_number window), planned
    // as a partial + final SortAggregate: the partial side collapses
    // dup-heavy inputs before the exchange
    val deduped = graft.seen.SeenFilter.firstWinsAgg(
      filtered, Seq("sec_code", "company", "title"), "arrival_seq")
    // A3: latest report per code (date desc nulls last, arrival asc)
    // stays a window: a "desc_nulls_last date then asc seq" priority
    // has no single min_by key without null-sentinel encoding
    val w3 = Window.partitionBy("sec_code")
      .orderBy(col("report_date").desc_nulls_last, col("arrival_seq").asc)
    deduped
      .withColumn("__rn", row_number().over(w3)).where(col("__rn") === 1)
      .select("sec_code", "company", "title", "report_date", "pdf_url")
  }

  /** A4: first-positive-else-first group reduce
    * (report_info_collection.py:463-489): within each group (ordered
    * by arrival), take the first member whose amount parses > 0, else
    * the first member.
    */
  def firstPositiveElseFirst(df: DataFrame, keys: Seq[String],
                             amountCol: String, seqCol: String): DataFrame = {
    val pos = Extract.parseAmount(col(amountCol)) > 0
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(pos.desc_nulls_last, col(seqCol).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** E-math2: grouped display format with trailing-zero trim —
    * f"{v:,.2f}".rstrip('0').rstrip('.') with empty→"0"
    * (report_info_collection.py:75-79). Sink-side only; the canonical
    * column stays decimal.
    */
  def formatAmount(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      nullif(
        regexp_replace(regexp_replace(format_number(v, 2), "0+$", ""), "\\.$", ""),
        lit("")),
      lit("0"))

  def formatAmountScala(v: BigDecimal): String = {
    val grouped = String.format(java.util.Locale.US, "%,.2f", v.bigDecimal)
    val trimmed = grouped.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    if (trimmed.isEmpty) "0" else trimmed
  }

  // ---- presentation sinks (Chinese headers, reference layouts) ------
  // Engine tables keep ASCII names; the reference's Chinese column
  // names appear ONLY here, at the sink boundary (SURVEY.md §1.1 #4).

  /** Stage-1 CSV layout: 股票代码,公司名称,财报名称,报告日期,PDF链接
    * in exactly that order (cninfo_report_crawler.py:535).
    */
  val Stage1ChineseColumns: Seq[(String, String)] = Seq(
    "sec_code" -> "股票代码", "company" -> "公司名称", "title" -> "财报名称",
    "report_date" -> "报告日期", "pdf_url" -> "PDF链接")

  def presentStage1(df: DataFrame): DataFrame =
    df.select(Stage1ChineseColumns.map { case (a, c) => col(a).as(c) }: _*)

  /** Wide-report layout (report_info_collection.py:537-546): base
    * info → amount columns → 是否包含数据资产 → PDF链接, keeping only
    * the columns that exist (the reference filters final_columns the
    * same way); the flag presents as 0/1.
    */
  val WideChineseOrder: Seq[String] = Seq(
    "证券代码", "公司名称", "报告名称", "报告日期",
    "存货", "无形资产", "开发支出", "是否包含数据资产", "PDF链接")

  private val WideRenames: Seq[(String, String)] = Seq(
    "sec_code" -> "证券代码", "company" -> "公司名称", "title" -> "报告名称",
    "report_date" -> "报告日期", "has_data_resource" -> "是否包含数据资产",
    "pdf_url" -> "PDF链接")

  def presentWide(df: DataFrame): DataFrame = {
    val renamed = WideRenames.foldLeft(df) { case (d, (a, c)) =>
      if (d.columns.contains(a)) d.withColumnRenamed(a, c) else d
    }
    val flagged =
      if (renamed.columns.contains("是否包含数据资产"))
        renamed.withColumn("是否包含数据资产", col("是否包含数据资产").cast("int"))
      else renamed
    flagged.select(WideChineseOrder.filter(flagged.columns.contains).map(col): _*)
  }

  /** A5+J3: pivot long rows to the wide report and attach the
    * has-data-resource flag (report_info_collection.py:492-528).
    * Pivot uses the explicit category list so the plan stays static.
    *
    * The flag side aggregates to ONE ROW PER DOC — the same
    * cardinality as the pivot side, i.e. O(docs), NOT broadcastable
    * at the 100 TB design point. No join hint: both sides hash on
    * doc_id, so Catalyst/AQE plans a co-partitioned shuffled hash
    * join at scale (and may still pick a broadcast when the input
    * really is tiny — its call, made with runtime sizes).
    */
  def widen(longRows: DataFrame): DataFrame = {
    val deduped = firstPositiveElseFirst(longRows, Seq("doc_id", "item"), "amount_str", "seq")
    val wide = deduped.groupBy("doc_id")
      .pivot("item", Extract.Categories)
      .agg(first(Extract.cleanSentinel(col("amount_str"))))
    val flags = longRows.groupBy("doc_id")
      .agg(max(col("has_flag").cast("int")).cast("boolean").as("has_data_resource"))
    val cleaned = Extract.Categories.foldLeft(wide) { (d, c) =>
      d.withColumn(c, Extract.cleanSentinel(col(c)))
    }
    cleaned.join(flags, Seq("doc_id"), "left_outer")
  }
}
