package graft.model

/** Core typed data model for the crawl engine (SURVEY.md §1, §7.1).
  *
  * Dates travel as epoch-day Ints inside the typed pipeline (stable,
  * encoder-cheap, no TZ pitfalls); they become DateType at the
  * storage/SQL boundary.
  */

/** A frontier generator: exchange × date × report-category
  * (reference: triple-nested loop, cninfo_report_crawler.py:434-469).
  */
final case class Seed(exchangeRank: Int, exchange: String, epochDay: Int, category: String)

/** A pending paginated listing request — frontier node at depth
  * `page` (reference: page loop, cninfo_report_crawler.py:187-331).
  * `emptyRun` = consecutive empty pages seen on this seed's stream
  * (stop condition O4, cninfo_report_crawler.py:317-328).
  */
final case class ListingTask(exchangeRank: Int, exchange: String, epochDay: Int,
                             category: String, page: Int, emptyRun: Int)

/** One announcement row as served by a listing page (reference dict,
  * cninfo_report_crawler.py:69-74,296-302). `timeMs`/`timeStr` carry
  * the reference's int-or-string announcementTime union; exactly one
  * is set (normalized at ingest by Canon.announceDate).
  * `arrivalSeq` is the semantic arrival ordinal — the dense encoding
  * of (exchangeRank, date, apiIdx≡0, categoryIdx, page, rowIdx) that
  * stands in for pandas' implicit row order (SURVEY.md §2.5, §3.1).
  */
final case class Announcement(secCode: String, secName: String, title: String,
                              timeMs: Long, timeStr: String, adjunctUrl: String,
                              arrivalSeq: Long)

/** A pending document fetch. Priority per the north rule:
  * (announce date, stock code, page depth).
  *
  * The stage-1 RESULT payload (arrivalSeq, company, title, the
  * timeMs/timeStr announcement-time union) rides the frontier task:
  * the reference appends a results row only when `validate_pdf_access`
  * succeeds (cninfo_report_crawler.py:479-493), so the results delta
  * is emitted at the validated-fetch stage — carrying the payload on
  * the task is what makes that a pure projection there instead of an
  * O(frontier) join back to discovery-time announcement rows.
  */
final case class DocTask(url: String, host: String, announceEpochDay: Int,
                         secCode: String, pageDepth: Int, seenKey: String,
                         arrivalSeq: Long, company: String, title: String,
                         timeMs: Long, timeStr: String)

/** One interleaved-document span — exactly the BASELINE input_hint
  * element shape (kind, text, media_ref, offset).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** The interleaved text+media document (BASELINE input_hint). */
final case class Doc(doc_id: String, spans: Seq[Span])
