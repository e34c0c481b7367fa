package graft.canon

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL / security-code / timestamp canonicalization.
  *
  * Column-expression ports of the reference's normalization helpers
  * (cninfo_report_crawler.py:69-109, 77-82) — pure built-in
  * expressions, so every use stays inside whole-stage codegen.
  * Mirrored pure-Scala versions back the in-memory test oracles.
  */
object Canon {

  /** E-str1 (cninfo_report_crawler.py:69) extended to a full URL
    * canonicalizer: lower-case scheme+host, strip fragment, drop
    * default port.
    */
  def canonicalizeFull(url: Column): Column = {
    // scheme+host lowered; fragment stripped; default :80/:443 dropped.
    val noFrag = substring_index(url, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    val rest = substring_index(noFrag, "://", -1)
    val hostPort = substring_index(rest, "/", 1)
    val path = when(instr(rest, "/") > 0, rest.substr(instr(rest, "/"), length(rest)))
      .otherwise(lit("/"))
    val host = lower(regexp_replace(hostPort, ":(80|443)$", ""))
    concat(scheme, lit("://"), host, path)
  }

  /** Pure-Scala twins for driver-side oracles / the scheduler. */
  def canonicalizeFullScala(url: String): String = {
    val noFrag = url.split("#", 2)(0)
    val i = noFrag.indexOf("://")
    if (i < 0) noFrag
    else {
      val scheme = noFrag.substring(0, i).toLowerCase
      val rest = noFrag.substring(i + 3)
      val slash = rest.indexOf('/')
      val (hostPort, path) = if (slash >= 0) (rest.substring(0, slash), rest.substring(slash)) else (rest, "/")
      val host = hostPort.toLowerCase.replaceAll(":(80|443)$", "")
      s"$scheme://$host$path"
    }
  }

  def hostOfScala(url: String): String = {
    val rest = { val i = url.indexOf("://"); if (i < 0) url else url.substring(i + 3) }
    rest.split("/", 2)(0).split(":", 2)(0).toLowerCase
  }

  /** E-str2: zero-pad an all-digit security code to 6 chars
    * (cninfo_report_crawler.py:89-90). Non-numeric codes unchanged.
    * Python's zfill never truncates, so codes longer than 6 pass
    * through (Spark/DuckDB lpad WOULD truncate — hence the guard).
    */
  def padCode(code: Column): Column =
    when(code.rlike("^\\d+$") && length(code) < 6, lpad(code, 6, "0")).otherwise(code)

  /** E-str3: exchange-suffix classification by 2-char prefix
    * (cninfo_report_crawler.py:92-109): 60/68→.SH, 00/30→.SZ,
    * 83/87/92/43→.BJ, else unchanged. Applied after padCode.
    */
  def classifyExchange(code6: Column): Column = {
    val p = substring(code6, 1, 2)
    when(p.isin("60", "68"), concat(code6, lit(".SH")))
      .when(p.isin("00", "30"), concat(code6, lit(".SZ")))
      .when(p.isin("83", "87", "92", "43"), concat(code6, lit(".BJ")))
      .otherwise(code6)
  }

  def padCodeScala(code: String): String =
    if (code.nonEmpty && code.length < 6 && code.forall(_.isDigit))
      ("0" * (6 - code.length)) + code
    else code

  def classifyExchangeScala(code6: String): String = {
    val p = code6.take(2)
    if (p == "60" || p == "68") code6 + ".SH"
    else if (p == "00" || p == "30") code6 + ".SZ"
    else if (p == "83" || p == "87" || p == "92" || p == "43") code6 + ".BJ"
    else code6
  }

  /** E-date1/2: the reference's int-or-string announcementTime union
    * (cninfo_report_crawler.py:77-82) normalized at ingest — epoch
    * millis or "YYYY-MM-DD hh:mm:ss" → DateType, never carried as a
    * union.
    */
  def announceDate(timeMs: Column, timeStr: Column): Column =
    coalesce(
      to_date(timestamp_millis(timeMs)),
      to_date(substring_index(timeStr, " ", 1)))

  /** E-str7: filename sanitization — the reference's
    * `re.sub(r'[\\/:*?"<>|]', '_', name)` (report_info_collection.py:238).
    * Sink-side only.
    */
  def sanitizeFilename(name: Column): Column =
    regexp_replace(name, "[\\\\/:*?\"<>|]", "_")

  def sanitizeFilenameScala(name: String): String =
    name.replaceAll("[\\\\/:*?\"<>|]", "_")

  /** The reference's payload filename shape:
    * sanitize("{company}：{title}_[{date}]") + ".pdf"
    * (report_info_collection.py:236-239).
    */
  def pdfFileName(company: Column, title: Column, reportDate: Column): Column =
    concat(
      sanitizeFilename(concat(company, lit("："), title,
        lit("_["), reportDate.cast("string"), lit("]"))),
      lit(".pdf"))
}
