package graft

import graft.report.Report
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Sink/source semantics: E-math2 display formatting and the S7/S8
  * CSV round-trip with schema enforcement (SURVEY.md §2.1, §2.8).
  */
class SinkSpec extends SparkSpec {

  test("formatAmount: grouped, trailing zeros trimmed, empty→0 (E-math2)") {
    val s = spark; import s.implicits._
    val vals = Seq("1234567.5", "1000.00", "0.00", "12.34", "0.10", "999999999.99")
    val got = vals.toDF("v")
      .select(Report.formatAmount(col("v").cast("decimal(20,2)")))
      .collect().map(_.getString(0)).toSeq
    val want = vals.map(v => Report.formatAmountScala(BigDecimal(v)))
    assert(got == want)
    assert(want == Seq("1,234,567.5", "1,000", "0", "12.34", "0.1", "999,999,999.99"))
  }

  test("S3: magic-bytes sniff is a cheap predicate on the binary payload") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (1L, "%PDF-1.7 junk".getBytes("UTF-8")),
      (2L, "<html>nope</html>".getBytes("UTF-8")),
      (3L, "%PDF".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = rows.where(substring(col("payload"), 1, 4) === lit("%PDF".getBytes("UTF-8")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
  }

  test("presentation sinks pin the reference's Chinese headers and order") {
    val s = spark; import s.implicits._
    // stage-1 CSV layout (cninfo_report_crawler.py:535)
    val stage1 = Seq(("600941.SH", "公司1", "2024年年度报告", "2024-04-30", "https://x/1.pdf"))
      .toDF("sec_code", "company", "title", "report_date", "pdf_url")
    assert(Report.presentStage1(stage1).columns.toSeq ==
      Seq("股票代码", "公司名称", "财报名称", "报告日期", "PDF链接"))
    // wide layout: base -> amounts -> flag -> link
    // (report_info_collection.py:537-546); flag presents as 0/1
    val wide = Seq(("600941.SH", "公司1", "年报", "2024-04-30",
      "1,000", "0", "42.5", true, "https://x/1.pdf"))
      .toDF("sec_code", "company", "title", "report_date",
        "存货", "无形资产", "开发支出", "has_data_resource", "pdf_url")
    val pw = Report.presentWide(wide)
    assert(pw.columns.toSeq == Seq("证券代码", "公司名称", "报告名称", "报告日期",
      "存货", "无形资产", "开发支出", "是否包含数据资产", "PDF链接"))
    assert(pw.select("是否包含数据资产").head().getInt(0) == 1)
    // missing columns are dropped, order preserved (reference keeps
    // only existing final_columns)
    val partial = Seq(("d1", "7", false)).toDF("doc_id", "存货", "has_data_resource")
    assert(Report.presentWide(partial).columns.toSeq == Seq("存货", "是否包含数据资产"))
  }

  test("E-str7: filename sanitization + reference pdf filename shape") {
    val s = spark; import s.implicits._
    import graft.canon.Canon
    val bad = """公司/A:B*C?"D<E>F|G\H"""
    assert(Canon.sanitizeFilenameScala(bad) == "公司_A_B_C__D_E_F_G_H")
    val got = Seq((bad, "2024年年度报告", "2024-04-30"))
      .toDF("company", "title", "report_date")
      .select(Canon.pdfFileName(col("company"), col("title"), col("report_date")))
      .head().getString(0)
    assert(got == Canon.sanitizeFilenameScala(s"$bad：2024年年度报告_[2024-04-30]") + ".pdf")
    assert(got.endsWith(".pdf") && !got.exists("\\/:*?\"<>|".contains(_)))
  }

  test("S7/S8: CSV sink with fixed column order, source with enforced schema") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("csv-roundtrip").toString
    val out = Seq(
      ("600941.SH", "公司1", "2024年年度报告", "2024-04-30", "https://x/1.pdf"),
      ("000002.SZ", "公司2", "2023年年度报告", "2023-04-28", "https://x/2.pdf"))
      .toDF("sec_code", "company", "title", "report_date", "pdf_url")
    // S7: fixed column order, header on
    out.select("sec_code", "company", "title", "report_date", "pdf_url")
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(dir)
    // S8: read back with an enforced schema (dtype=str analog) —
    // required-column check is schema enforcement
    val schema = StructType(Seq("sec_code", "company", "title", "report_date", "pdf_url")
      .map(StructField(_, StringType)))
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(back.schema == schema)
    assert(back.collect().map(_.toString).sorted.toSeq ==
      out.collect().map(_.toString).sorted.toSeq)
  }
}
