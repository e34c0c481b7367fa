package graft.queries

import graft.Tables
import graft.extract.Extract
import graft.report.Report
import graft.sched.Scheduler
import graft.seen.SeenFilter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-pipeline relational semantics cross-checked against DuckDB.
  *
  * The crawl's own fixtures live outside the sfDir corpus, so these
  * queries derive announcement-shaped inputs from the generic tables
  * with engine-portable expressions (md5 / ascii / modulo — identical
  * in Spark and DuckDB), then run the REAL library operators
  * (Report.postprocessStage1, SeenFilter.firstWinsAgg,
  * Scheduler.assignVirtualTicks, Report.widen) on the Spark side and
  * a pure-SQL restatement on the oracle side. The stateful scheduler
  * is thereby checked against its closed form; the end-to-end frontier
  * loop is checked in ScalaTest (rows-only here).
  */
object CrawlQueries {
  type QFn = (SparkSession, String) => DataFrame

  val TargetYears = Seq(2023, 2024)

  /** Announcement derivation shared by crawl_postprocess. */
  def deriveAnnouncements(s: SparkSession, d: String): DataFrame = {
    val m = md5(col("o_orderkey").cast("string"))
    val b = ascii(substring(m, 1, 1)) % 6
    val c6 = ((col("o_custkey") * 37) % 1000000).cast("string")
    Tables.load(s, d, "orders").select(
      col("o_orderkey").as("arrival_seq"),
      when(b === 0, lit("2024年年度报告"))
        .when(b === 1, lit("2023年年度报告摘要"))
        .when(b === 2, lit("2024年年度报告（英文版）"))
        .when(b === 3, lit("2019年年度报告"))
        .when(b === 4, lit("年度报告"))
        .otherwise(concat(lit("第"), (col("o_orderkey") % 9 + 1).cast("string"), lit("季度报告")))
        .as("title"),
      when(ascii(substring(m, 2, 1)) % 7 === 0, concat(lit("X"), c6)).otherwise(c6)
        .as("sec_code_raw"),
      concat(lit("公司"), col("o_custkey").cast("string")).as("company"),
      to_date(col("o_orderdate")).as("report_date"),
      concat(lit("/final/"), m, lit(".pdf")).as("pdf_url"))
  }

  /** The dup-heavy URL stream behind crawl_seen_firstwins and the two
    * politeness entries — events → (event_id, url, host), 300 users ×
    * 20 paths over 5 hosts — reduced to each URL's first arrival. The
    * arrival ordinal `event_id` is unique in every corpus, so the
    * aggregate [[SeenFilter.firstWinsAgg]] keeps exactly the rows a
    * `row_number` window over it would (the oracles' formulation).
    */
  private def firstUrls(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").try_cast("long")
    val user = col("user_id") % 300
    val stream = Tables.load(s, d, "events").select(
      col("event_id"),
      concat(lit("/doc/"), user.cast("string"), lit("/"), (k % 20).cast("string")).as("url"),
      concat(lit("h"), (user % 5).cast("string")).as("host"))
    SeenFilter.firstWinsAgg(stream, Seq("url"), "event_id")
  }

  val entries: Map[String, QFn] = Map(
    // Stage-1 postprocess: F1+F2 filters, code canon, A2+A3 windows.
    // PUSHDOWN BARRIER on the derived title (guide ~ "mark expensive
    // expressions non-deterministic to stop the optimizer duplicating
    // them"): postprocessStage1's F1/F2 predicates reference `title`,
    // and predicate pushdown substitutes the md5 when-chain into each
    // of its 5 conjuncts — subexpression elimination cannot hoist
    // conditionally-evaluated CASE branches, so the derivation ran
    // ~6x per row (measured: derive-only 0.36 s warm, derive+filter
    // 1.88 s at sf0.1). An identity udf marked nondeterministic pins
    // the title to ONE evaluation per row; the function is pure, so
    // every value (and the oracle hash) is unchanged.
    "crawl_postprocess" -> ((s, d) => {
      val once = udf((t: String) => t).asNondeterministic()
      val ann = deriveAnnouncements(s, d).withColumn("title", once(col("title")))
      Report.postprocessStage1(ann, TargetYears)
    }),

    // A1: first-wins URL-seen semantics on a dup-heavy stream.
    "crawl_seen_firstwins" -> ((s, d) =>
      firstUrls(s, d).select(col("url"), col("event_id").as("first_seen"))),

    // ST1: token-bucket politeness plan — the stateful
    // flatMapGroups scheduler vs its closed-form window oracle.
    "crawl_politeness_plan" -> ((s, d) => {
      import s.implicits._
      val in = firstUrls(s, d).select(col("url"), col("host"),
        col("event_id").as("priority"), lit("").as("tiebreak")).as[Scheduler.SchedIn]
      // saltCount=1 so the closed form is the pure per-host queue.
      Scheduler.assignVirtualTicks(in, saltCount = 1, tokensPerTick = 3, tickMs = 300)
        .toDF()
        .select(col("url"), col("host"), col("rank").cast("long").as("host_rank"),
          col("tick_index"), col("scheduled_ms"))
    }),

    // ST2: the SALTED token bucket (hot-host fan-out) vs its closed
    // form — saltOf is md5-derived precisely so DuckDB can restate
    // the salt assignment and the per-(host,salt) queue rank exactly.
    "crawl_politeness_salted" -> ((s, d) => {
      import s.implicits._
      val in = firstUrls(s, d).select(col("url"), col("host"),
        col("event_id").as("priority"), lit("").as("tiebreak")).as[Scheduler.SchedIn]
      Scheduler.assignVirtualTicks(in, saltCount = 4, tokensPerTick = 3, tickMs = 300)
        .toDF()
        .select(col("url"), col("host"), col("salt").cast("long").as("salt"),
          col("rank").cast("long").as("salt_rank"),
          col("tick_index"), col("scheduled_ms"))
    }),

    // A4+A5+J3+F8: first-positive dedup, pivot, flag join, sentinels.
    "crawl_wide_report" -> ((s, d) => {
      val longRows = deriveLongRows(s, d)
      Report.widen(longRows)
        .select(col("doc_id"), col("存货"), col("无形资产"), col("开发支出"),
          col("has_data_resource"))
    }),

    // S2/S3/F4: fetch validation — HEAD-probe metadata as columns,
    // accept on 200 + (content-type PDF, or the %PDF magic-byte
    // sniff rescuing mislabeled responses). A codegen'd predicate;
    // payloads are only fetched for survivors.
    "crawl_validate" -> ((s, d) => {
      val m = md5(col("o_orderkey").cast("string"))
      val ctSel = ascii(substring(m, 2, 1)) % 12
      Tables.load(s, d, "orders").select(
        concat(lit("https://static.cninfo.example/final/"), m, lit(".pdf")).as("url"),
        when(ascii(substring(m, 1, 1)) % 20 === 0, 404).otherwise(200).as("status"),
        when(ctSel === 0, "text/html").when(ctSel === 1, "application/octet-stream")
          .otherwise("application/pdf").as("content_type"),
        when(ascii(substring(m, 3, 1)) % 3 === 0, "<htm").otherwise("%PDF").as("magic"))
        .where(graft.crawl.Validate.isValid(
          col("status"), col("content_type"), col("magic")))
    }),

    // Multimodal plumbing: opaque media refs + deterministic
    // metadata "decode" (the image libs are stubbed; the schema,
    // batching and partition shape are the real thing).
    "mm_media_meta" -> ((s, d) =>
      graft.ops.MultimodalOps.decodeMeta(
        graft.ops.MultimodalOps.deriveMedia(Tables.load(s, d, "documents")))),

    // Frame-sample + integer resize + per-frame feature over the
    // opaque media payloads — same batched mapPartitions shape.
    "mm_frame_sample" -> ((s, d) =>
      graft.ops.MultimodalOps.sampleFrames(
        graft.ops.MultimodalOps.deriveMedia(Tables.load(s, d, "documents")))),

    // End-to-end frontier replay, ORACLED: the full multi-round crawl
    // loop (listing expansion, O4 stops, F1/F2, bloom+exact first-wins
    // seen set, robots gate, politeness scheduling with deferral,
    // validation, snapshot commits, final postprocess) runs to
    // exhaustion over the Md5Net corpus — whose every draw is
    // md5-restatable, so the whole fixpoint has the closed form in
    // the crawl_replay oracle below (see Md5Net's scaladoc for why
    // the crawled-page set is SQL-expressible). The splitmix64
    // fixture corpus variant of the same loop stays golden-tested in
    // ScalaTest (CrawlReplaySpec/ResumeSpec) and is the bench's
    // north-star workload.
    "crawl_replay" -> ((s, _) => {
      val cfg = graft.crawl.CrawlJob.Config(
        saltCount = 4, tokensPerTick = 4, ticksPerRound = 8, bloomP = 8,
        roundShufflePartitions = 4, commitFiles = 2,
        roundWholeStageCodegen = false, roundAdaptive = false)
      val seeds = graft.crawl.CrawlJob.expandSeeds(19830, 19831)
      val root = java.nio.file.Files.createTempDirectory("crawl-replay-q").toString
      graft.crawl.CrawlJob.run(s, seeds, cfg, root, graft.crawl.Md5Net)
      graft.crawl.CrawlJob.finalReport(s, new graft.snapshot.SnapshotLog(root), cfg)
    }),

    // The interleaved-spans extraction operator (E-arr1/2, F7,
    // E-str4/6) — the input_hint table shape end-to-end: derived
    // spans array → per-document fold → long rows, vs a pure-SQL
    // window restatement in DuckDB.
    "extract_long_rows" -> ((s, d) =>
      Extract.extractLongRows(deriveSpanDocs(s, d))
        .select(col("doc_id"), col("item"), col("amount_str"), col("method"),
          col("offset").cast("long").as("offset"))),

    // E-date3/4/5: inclusive date-range expansion × exchange dim ×
    // category dim (the seed list as a Catalyst plan), with the
    // −3-month fiscal shift and its target-year span.
    "seed_expansion" -> ((s, _) => {
      import s.implicits._
      val exchanges = Seq((0, "sse"), (1, "szse"), (2, "bj"), (3, "neeq"), (4, "star"))
        .toDF("exchange_rank", "exchange")
      val cats = Seq("annual", "semiannual").toDF("category")
      s.range(1).select(
          explode(sequence(to_date(lit("2024-01-25")), to_date(lit("2024-03-05")),
            expr("interval 1 day"))).as("day"))
        .crossJoin(broadcast(exchanges)).crossJoin(broadcast(cats))
        .withColumn("fiscal_day", add_months(col("day"), -3))
        .withColumn("target_year_lo", year(add_months(to_date(lit("2024-01-25")), -3)).cast("long"))
        .withColumn("target_year_hi", year(add_months(to_date(lit("2024-03-05")), -3)).cast("long"))
        .select(col("exchange_rank").cast("long").as("exchange_rank"), col("exchange"),
          col("category"), col("day"), col("fiscal_day"),
          col("target_year_lo"), col("target_year_hi"))
    }),

    // O5: priority-queue batch ordering — distributed top-k on the
    // north-star key (announce date, stock code, page depth).
    // orderBy+limit plans as TakeOrderedAndProject: each partition
    // computes its local top-k, the driver merges k-sized heaps — no
    // range exchange at all (a repartitionByRange here would be a
    // user-forced full shuffle Catalyst cannot elide).
    "priority_topk" -> ((s, d) => {
      val m = md5(col("o_orderkey").cast("string"))
      // spread opt-out (Tables.load scaladoc): TakeOrderedAndProject
      // is per-partition top-k heaps — the spread's exchange is pure
      // latency before a local O(k) pass
      val tasks = Tables.load(s, d, "orders", spread = false).select(
        to_date(col("o_orderdate")).as("announce_date"),
        lpad(((col("o_custkey") * 37) % 1000000).cast("string"), 6, "0").as("stock_code"),
        (ascii(substring(m, 3, 1)) % 5 + 1).cast("long").as("page_depth"),
        concat(lit("https://static.cninfo.example/final/"), m, lit(".pdf")).as("url"))
      tasks
        .orderBy(col("announce_date"), col("stock_code"), col("page_depth"), col("url"))
        .limit(100)
    }),

    // J5 dense-categories join + A4 first-positive dedup + J4
    // unit-multiplier broadcast dim + E-math1 exact decimal rescale:
    // every (doc, category) appears exactly once, amount 0 when the
    // extraction found nothing, scaled by a per-key multiplier.
    "crawl_dense_rescale" -> ((s, d) => {
      import s.implicits._
      val docs = deriveSpanDocs(s, d)
      val longRows = Extract.extractLongRows(docs)
      val deduped = graft.report.Report.firstPositiveElseFirst(
        longRows, Seq("doc_id", "item"), "amount_str", "offset")
      val dense = Extract.denseLongRows(docs.select("doc_id"), deduped)
      val dim = Seq((0L, 1000000L), (1L, 1000L)).toDF("mod7", "multiplier")
      dense
        .join(broadcast(dim), col("doc_id") % 7 === col("mod7"), "left_outer")
        .select(col("doc_id"), col("item"), col("item_rank").cast("long").as("item_rank"),
          col("amount_str"), col("has_data_resource"),
          coalesce(col("multiplier"), lit(1L)).as("multiplier"),
          (Extract.parseAmount(col("amount_str")) *
            coalesce(col("multiplier"), lit(1L)) * 1000).cast("long").as("amount_milli"))
    }))

  /** Deterministic interleaved-docs derivation from the `documents`
    * table: 6 spans per doc mixing category headers, keyword rows
    * (amounts in every messy reference format, including the plain
    * ≥4-digit decimal that pins the E-str6 ladder divergence), media
    * refs, table-boundary `break` spans (which must reset the parent
    * category), and noise — engine-portable (md5/ascii/modulo only).
    */
  def deriveSpanDocs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents").select(col("doc_id"),
      transform(sequence(lit(0), lit(5)), i => {
        val m = md5(concat(col("doc_id").cast("string"), lit(":"), i.cast("string")))
        val b = ascii(substring(m, 1, 1)) % 10
        val c = ascii(substring(m, 2, 1)) % 3
        val st = ascii(substring(m, 3, 1)) % 5
        val v1 = ascii(substring(m, 4, 1)) * 7 % 900 + 100
        val v2 = ascii(substring(m, 5, 1)) * 13 % 1000
        val catName = when(c === 0, "存货").when(c === 1, "无形资产").otherwise("开发支出")
        val grouped = concat(v1.cast("string"), lit(","), lpad(v2.cast("string"), 3, "0"))
        val amt = when(st === 0, concat(grouped, lit(".25")))
          .when(st === 1, v1.cast("string"))
          .when(st === 2, lit("N/A"))
          .when(st === 3, grouped)
          .otherwise(concat((v1 + 10000).cast("string"), lit("."),
            lpad((v2 % 100).cast("string"), 2, "0")))
        val text = when(b < 2, concat(lit("第"), i.cast("string"), lit("节 "), catName, lit("明细")))
          .when(b < 5, concat(lit("其中：数据资源 | "), amt, lit(" | 元")))
          .when(b < 8, lit(null).cast("string"))
          .otherwise(concat(lit("补充说明"), v1.cast("string")))
        val kind = when(b < 5 || b >= 8, lit("text"))
          .when(b === 7, lit("break"))
          .otherwise(lit("media"))
        val mref = when(b >= 5 && b < 7, concat(lit("media://"), m))
          .otherwise(lit(null).cast("string"))
        struct(kind.as("kind"), text.as("text"), mref.as("media_ref"),
          i.cast("int").as("offset"))
      }).as("spans"))

  /** Long-row derivation for crawl_wide_report: 3 categories × 2
    * arrival reps per doc, amounts mixing sentinels, grouped decimals
    * and plain ints — exercises A4's first-positive-else-first rule.
    */
  def deriveLongRows(s: SparkSession, d: String): DataFrame = {
    // spread opt-out (Tables.load scaladoc): the doc spine is one
    // column; the md5 derive fans out AFTER the 6-row cross join and
    // the widen windows re-exchange on doc_id anyway — the spread
    // measured +0.27 s on crawl_wide_report at sf0.1
    val base = Tables.load(s, d, "documents", spread = false).select(col("doc_id"))
      .crossJoin(spark_kj(s))
    val m = md5(concat(col("doc_id").cast("string"), lit(":"),
      col("k").cast("string"), lit(":"), col("j").cast("string")))
    val v = ascii(substring(m, 1, 1)) % 8
    base.select(
      col("doc_id"),
      when(col("k") === 0, lit("存货")).when(col("k") === 1, lit("无形资产"))
        .otherwise(lit("开发支出")).as("item"),
      when(v === 0, lit("N/A")).when(v === 1, lit("-")).when(v === 2, lit("0"))
        .when(v === 3, concat((ascii(substring(m, 2, 1)) * 7 % 900 + 100).cast("string"),
          lit(","), lpad((ascii(substring(m, 3, 1)) * 13 % 1000).cast("string"), 3, "0"),
          lit(".25")))
        .when(v === 4, lit("空值"))
        .otherwise((ascii(substring(m, 4, 1)) % 500).cast("string"))
        .as("amount_str"),
      (v >= 3 && v =!= 4).as("has_flag"),
      (col("k") * 2 + col("j")).as("seq"))
  }

  private def spark_kj(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1)).toDF("k", "j")
  }

  private val streamSql =
    """SELECT event_id,
      | concat('/doc/', CAST(user_id % 300 AS VARCHAR), '/',
      |        CAST(CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % 20 AS VARCHAR)) AS url,
      | concat('h', CAST((user_id % 300) % 5 AS VARCHAR)) AS host
      |FROM events""".stripMargin

  /** Shared DuckDB CTE chain: derived spans → normalized text →
    * category markers → nearest-prior-parent window → keyword rows
    * (`kw(doc_id, item, after, off)`), mirroring deriveSpanDocs +
    * Extract.extractLongRows.
    */
  private val spanCtes: String =
    """cells AS (
      | SELECT doc_id, i AS off,
      |  md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR))) AS m
      | FROM documents, (SELECT unnest(generate_series(0,5)) AS i)),
      |f AS (
      | SELECT doc_id, off, m, ascii(substr(m,1,1)) % 10 AS b,
      |  ascii(substr(m,2,1)) % 3 AS c, ascii(substr(m,3,1)) % 5 AS st,
      |  ascii(substr(m,4,1)) * 7 % 900 + 100 AS v1, ascii(substr(m,5,1)) * 13 % 1000 AS v2
      | FROM cells),
      |spans AS (
      | SELECT doc_id, off,
      |  CASE WHEN b < 5 OR b >= 8 THEN 'text'
      |       WHEN b = 7 THEN 'break' ELSE 'media' END AS kind,
      |  CASE WHEN b < 2 THEN concat('第', CAST(off AS VARCHAR), '节 ',
      |        CASE c WHEN 0 THEN '存货' WHEN 1 THEN '无形资产' ELSE '开发支出' END, '明细')
      |       WHEN b < 5 THEN concat('其中：数据资源 | ',
      |        CASE st WHEN 0 THEN concat(CAST(v1 AS VARCHAR), ',', lpad(CAST(v2 AS VARCHAR),3,'0'), '.25')
      |                WHEN 1 THEN CAST(v1 AS VARCHAR)
      |                WHEN 2 THEN 'N/A'
      |                WHEN 3 THEN concat(CAST(v1 AS VARCHAR), ',', lpad(CAST(v2 AS VARCHAR),3,'0'))
      |                ELSE concat(CAST(v1 + 10000 AS VARCHAR), '.', lpad(CAST(v2 % 100 AS VARCHAR),2,'0')) END, ' | 元')
      |       WHEN b < 8 THEN NULL
      |       ELSE concat('补充说明', CAST(v1 AS VARCHAR)) END AS text
      | FROM f),
      |norm AS (
      | SELECT doc_id, off, kind,
      |  regexp_replace(replace(text, ':', '：'), '\s+', '', 'g') AS n
      | FROM spans),
      |marked AS (
      | SELECT *,
      |  CASE WHEN kind = 'break' THEN '#none'
      |       WHEN kind = 'text' AND n IS NOT NULL AND n != '' THEN
      |   coalesce(
      |    CASE WHEN contains(n, '存货') THEN '存货'
      |         WHEN contains(n, '无形资产') THEN '无形资产'
      |         WHEN contains(n, '开发支出') THEN '开发支出' END,
      |    '#none') END AS marker
      | FROM norm),
      |parents AS (
      | SELECT *, last_value(marker IGNORE NULLS) OVER
      |   (PARTITION BY doc_id ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS parent_mark
      | FROM marked),
      |kwraw AS (
      | SELECT doc_id, parent_mark AS item,
      |  string_split(n, '其中：数据资源')[-1] AS after, off
      | FROM parents
      | WHERE kind = 'text' AND n IS NOT NULL AND contains(n, '其中：数据资源')
      |  AND parent_mark IS NOT NULL AND parent_mark != '#none'),
      |kw AS (
      | SELECT doc_id, item,
      |  list_filter(
      |   list_transform(string_split(after, '|'), c -> coalesce(
      |    nullif(regexp_extract(c, '\d{1,3}(,\d{3})+\.\d{2}', 0), ''),
      |    nullif(regexp_extract(c, '\d{1,3}(,\d{3})+\.\d+', 0), ''),
      |    nullif(regexp_extract(c, '\d{1,3}(,\d{3})+', 0), ''),
      |    nullif(regexp_extract(c, '\d+\.\d+', 0), ''),
      |    nullif(regexp_extract(c, '\d+', 0), ''))),
      |   x -> x IS NOT NULL AND TRY_CAST(regexp_replace(x, '[,\s]', '', 'g') AS DECIMAL(20,2)) > 0
      |  )[1] AS amount_str, off
      | FROM kwraw)""".stripMargin


  val oracles: Map[String, String] = Map(
    // The END-TO-END replay closed form (see Md5Net): which pages each
    // stream serves is structural (p ≤ min(firstEmpty−1, tp+3)), the
    // global first-wins winner is min (page, arrival_seq) because live
    // streams crawl in page-lockstep, and every other stage (filters,
    // robots, validation, postprocess) is stateless — so the whole
    // multi-round crawl is one SQL chain over md5 draws.
    "crawl_replay" ->
      """WITH streams AS (
        | SELECT ex, day, c.cat, c.catidx
        | FROM (SELECT unnest(generate_series(0, 4)) AS ex),
        |      (SELECT unnest(generate_series(19830, 19831)) AS day),
        |      (VALUES ('annual', 0), ('semiannual', 1)) c(cat, catidx)),
        |sp AS (
        | SELECT *, ascii(substr(md5(concat('tp:', ex, ':', day, ':', cat)), 1, 1)) % 3 + 1 AS tp
        | FROM streams),
        |pages AS (
        | SELECT sp.*, p, md5(concat('rp:', ex, ':', day, ':', cat, ':', p)) AS mp
        | FROM sp, (SELECT unnest(generate_series(1, 6)) AS p)
        | WHERE p <= tp + 3),
        |rawp AS (
        | SELECT *, CASE
        |   WHEN p <= tp THEN CASE WHEN ascii(substr(mp, 2, 1)) % 5 = 0 THEN 0
        |                          ELSE ascii(substr(mp, 1, 1)) % 8 + 3 END
        |   ELSE CASE WHEN ascii(substr(mp, 3, 1)) % 3 = 0 THEN ascii(substr(mp, 1, 1)) % 5 + 1
        |             ELSE 0 END END AS nrows
        | FROM pages),
        |served AS (
        | SELECT * FROM (
        |  SELECT *, min(CASE WHEN nrows = 0 THEN p END)
        |    OVER (PARTITION BY ex, day, cat) AS first_empty
        |  FROM rawp)
        | WHERE nrows > 0 AND (first_empty IS NULL OR p < first_empty)),
        |rows0 AS (
        | SELECT s.*, r,
        |  CASE WHEN r = 0 THEN concat('u:', ex, ':', day, ':', cat, ':', p)
        |       ELSE concat('p:', ex, ':', day, ':',
        |    (ascii(substr(md5(concat('pd:', ex, ':', day, ':', cat, ':', p, ':', r)), 1, 1)) * 131
        |     + ascii(substr(md5(concat('pd:', ex, ':', day, ':', cat, ':', p, ':', r)), 2, 1))) % 40)
        |  END AS k,
        |  (((ex * 100000 + day) * 8 + catidx) * 1000 + p) * 100 + r AS arrival_seq
        | FROM served s, (SELECT unnest(generate_series(0, 9)) AS r)
        | WHERE r < nrows),
        |ann AS (SELECT rows0.*, md5(concat('ann:', k)) AS m FROM rows0),
        |fields AS (
        | SELECT arrival_seq, p, day, r,
        |  concat(['60','68','00','30','83','43','99'][ascii(substr(m, 5, 1)) % 7 + 1],
        |    lpad(CAST((ascii(substr(m, 3, 1)) * 131 + ascii(substr(m, 4, 1))) % 10000 AS VARCHAR), 4, '0')) AS sec_code_raw,
        |  concat('公司', CAST((ascii(substr(m, 3, 1)) * 131 + ascii(substr(m, 4, 1))) % 10000 AS VARCHAR)) AS company,
        |  CASE WHEN r = 0 THEN '2024年年度报告'
        |   ELSE CASE (ascii(substr(m, 1, 1)) % 8)
        |    WHEN 0 THEN '2024年年度报告' WHEN 1 THEN '2023年年度报告摘要'
        |    WHEN 2 THEN '2024年年度报告（英文版）' WHEN 3 THEN '2019年年度报告'
        |    WHEN 4 THEN '公司章程'
        |    ELSE concat('2023年第', CAST(ascii(substr(m, 2, 1)) % 3 + 1 AS VARCHAR), '季度报告') END
        |  END AS title,
        |  CASE WHEN ascii(substr(m, 6, 1)) % 2 = 0
        |       THEN day * 86400000 + (ascii(substr(m, 7, 1)) % 24) * 3600000
        |       ELSE -1 END AS time_ms,
        |  CASE WHEN ascii(substr(m, 6, 1)) % 2 = 0 THEN NULL
        |       ELSE concat(strftime(DATE '1970-01-01' + day * INTERVAL 1 DAY, '%Y-%m-%d'), ' ',
        |         lpad(CAST(ascii(substr(m, 7, 1)) % 24 AS VARCHAR), 2, '0'), ':00:00') END AS time_str,
        |  concat(CASE WHEN ascii(substr(m, 9, 1)) % 16 = 0 THEN 'private/' ELSE '' END,
        |    'r/', m, '.pdf') AS adjunct,
        |  CAST(DATE '1970-01-01' + day * INTERVAL 1 DAY AS DATE) AS report_date
        | FROM ann),
        |keyed AS (
        | SELECT *,
        |  concat_ws('', sec_code_raw, title, CAST(time_ms AS VARCHAR), time_str, adjunct) AS seen_key,
        |  concat('https://static.cninfo.example/final/', adjunct) AS url
        | FROM fields
        | WHERE (regexp_matches(title, '2023|2024') OR NOT regexp_matches(title, '\d'))
        |  AND NOT contains(title, '摘要') AND NOT contains(title, '英文版')),
        |firstwins AS (
        | SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY seen_key ORDER BY p, arrival_seq) AS rn
        |  FROM keyed) WHERE rn = 1),
        |allowed AS (SELECT * FROM firstwins WHERE NOT starts_with(adjunct, 'private/')),
        |validated AS (
        | SELECT * FROM allowed
        | WHERE ascii(substr(md5(concat('st:', url)), 1, 1)) % 20 != 0
        |  AND (CASE ascii(substr(md5(concat('ct:', url)), 1, 1)) % 12
        |        WHEN 0 THEN 'text/html' WHEN 1 THEN 'application/octet-stream'
        |        ELSE 'application/pdf' END = 'application/pdf'
        |       OR (CASE WHEN ascii(substr(md5(concat('mg:', url)), 1, 1)) % 3 = 0
        |           THEN '<htm' ELSE '%PDF' END) = '%PDF')),
        |results AS (
        | SELECT arrival_seq, sec_code_raw, company, title, report_date, url AS pdf_url
        | FROM validated),
        |post AS (
        | SELECT *,
        |  CASE WHEN regexp_matches(sec_code_raw, '^\d+$') AND length(sec_code_raw) < 6
        |       THEN lpad(sec_code_raw, 6, '0') ELSE sec_code_raw END AS code6
        | FROM results
        | WHERE (regexp_matches(title, '2023|2024') OR NOT regexp_matches(title, '\d'))
        |  AND NOT contains(title, '摘要') AND NOT contains(title, '英文版')),
        |coded AS (
        | SELECT arrival_seq, company, title, report_date, pdf_url,
        |  CASE WHEN substr(code6, 1, 2) IN ('60', '68') THEN concat(code6, '.SH')
        |       WHEN substr(code6, 1, 2) IN ('00', '30') THEN concat(code6, '.SZ')
        |       WHEN substr(code6, 1, 2) IN ('83', '87', '92', '43') THEN concat(code6, '.BJ')
        |       ELSE code6 END AS sec_code
        | FROM post),
        |a2 AS (SELECT *, row_number() OVER (PARTITION BY sec_code, company, title ORDER BY arrival_seq) AS rna FROM coded),
        |a3 AS (SELECT *, row_number() OVER (PARTITION BY sec_code ORDER BY report_date DESC NULLS LAST, arrival_seq) AS rn2
        |       FROM a2 WHERE rna = 1)
        |SELECT sec_code, company, title, report_date, pdf_url FROM a3 WHERE rn2 = 1""".stripMargin,

    "crawl_postprocess" ->
      """WITH ann AS (
        | SELECT o_orderkey AS arrival_seq, md5(CAST(o_orderkey AS VARCHAR)) AS m,
        |  CAST((o_custkey * 37) % 1000000 AS VARCHAR) AS c6,
        |  concat('公司', CAST(o_custkey AS VARCHAR)) AS company,
        |  CAST(o_orderdate AS DATE) AS report_date
        | FROM orders),
        |ann2 AS (
        | SELECT arrival_seq, company, report_date,
        |  CASE (ascii(substr(m,1,1)) % 6)
        |   WHEN 0 THEN '2024年年度报告' WHEN 1 THEN '2023年年度报告摘要'
        |   WHEN 2 THEN '2024年年度报告（英文版）' WHEN 3 THEN '2019年年度报告'
        |   WHEN 4 THEN '年度报告'
        |   ELSE concat('第', CAST(arrival_seq % 9 + 1 AS VARCHAR), '季度报告') END AS title,
        |  CASE WHEN ascii(substr(m,2,1)) % 7 = 0 THEN concat('X', c6) ELSE c6 END AS sec_code_raw,
        |  concat('/final/', m, '.pdf') AS pdf_url
        | FROM ann),
        |filtered AS (
        | SELECT *,
        |  CASE WHEN regexp_matches(sec_code_raw, '^\d+$') AND length(sec_code_raw) < 6
        |       THEN lpad(sec_code_raw, 6, '0')
        |       ELSE sec_code_raw END AS code6
        | FROM ann2
        | WHERE (regexp_matches(title, '2023|2024') OR NOT regexp_matches(title, '\d'))
        |  AND NOT contains(title, '摘要') AND NOT contains(title, '英文版')),
        |coded AS (
        | SELECT arrival_seq, company, title, report_date, pdf_url,
        |  CASE WHEN substr(code6,1,2) IN ('60','68') THEN concat(code6,'.SH')
        |       WHEN substr(code6,1,2) IN ('00','30') THEN concat(code6,'.SZ')
        |       WHEN substr(code6,1,2) IN ('83','87','92','43') THEN concat(code6,'.BJ')
        |       ELSE code6 END AS sec_code
        | FROM filtered),
        |a2 AS (SELECT *, row_number() OVER (PARTITION BY sec_code, company, title ORDER BY arrival_seq) AS rn FROM coded),
        |a3 AS (SELECT *, row_number() OVER (PARTITION BY sec_code ORDER BY report_date DESC NULLS LAST, arrival_seq) AS rn2
        |       FROM a2 WHERE rn = 1)
        |SELECT sec_code, company, title, report_date, pdf_url FROM a3 WHERE rn2 = 1""".stripMargin,

    "crawl_seen_firstwins" ->
      s"""WITH stream AS ($streamSql)
        |SELECT url, event_id AS first_seen FROM (
        | SELECT url, event_id, row_number() OVER (PARTITION BY url ORDER BY event_id) AS rn
        | FROM stream) WHERE rn = 1""".stripMargin,

    "crawl_politeness_plan" ->
      s"""WITH stream AS ($streamSql),
        |kept AS (
        | SELECT url, host, event_id AS priority FROM (
        |  SELECT url, host, event_id, row_number() OVER (PARTITION BY url ORDER BY event_id) AS rn
        |  FROM stream) WHERE rn = 1),
        |ranked AS (
        | SELECT url, host,
        |  row_number() OVER (PARTITION BY host ORDER BY priority, url) AS host_rank
        | FROM kept)
        |SELECT url, host, CAST(host_rank AS BIGINT) AS host_rank,
        | CAST((host_rank - 1) // 3 AS BIGINT) AS tick_index,
        | CAST((host_rank - 1) // 3 * 300 AS BIGINT) AS scheduled_ms
        |FROM ranked""".stripMargin,

    "crawl_politeness_salted" ->
      s"""WITH stream AS ($streamSql),
        |kept AS (
        | SELECT url, host, event_id AS priority FROM (
        |  SELECT url, host, event_id, row_number() OVER (PARTITION BY url ORDER BY event_id) AS rn
        |  FROM stream) WHERE rn = 1),
        |salted AS (
        | SELECT url, host,
        |  (ascii(substr(md5(url),1,1)) * 2248091 + ascii(substr(md5(url),2,1)) * 17161
        |   + ascii(substr(md5(url),3,1)) * 131 + ascii(substr(md5(url),4,1))) % 4 AS salt,
        |  priority
        | FROM kept),
        |ranked AS (
        | SELECT url, host, salt,
        |  row_number() OVER (PARTITION BY host, salt ORDER BY priority, url) AS salt_rank
        | FROM salted)
        |SELECT url, host, CAST(salt AS BIGINT) AS salt,
        | CAST(salt_rank AS BIGINT) AS salt_rank,
        | CAST((salt_rank - 1) // 3 AS BIGINT) AS tick_index,
        | CAST((salt_rank - 1) // 3 * 300 AS BIGINT) AS scheduled_ms
        |FROM ranked""".stripMargin,

    "crawl_wide_report" ->
      """WITH base AS (
        | SELECT doc_id, k, j,
        |  md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(k AS VARCHAR), ':', CAST(j AS VARCHAR))) AS m
        | FROM documents, (SELECT unnest([0,1,2]) AS k), (SELECT unnest([0,1]) AS j)),
        |lr AS (
        | SELECT doc_id,
        |  CASE k WHEN 0 THEN '存货' WHEN 1 THEN '无形资产' ELSE '开发支出' END AS item,
        |  CASE (ascii(substr(m,1,1)) % 8)
        |   WHEN 0 THEN 'N/A' WHEN 1 THEN '-' WHEN 2 THEN '0'
        |   WHEN 3 THEN concat(CAST(ascii(substr(m,2,1)) * 7 % 900 + 100 AS VARCHAR), ',',
        |                      lpad(CAST(ascii(substr(m,3,1)) * 13 % 1000 AS VARCHAR), 3, '0'), '.25')
        |   WHEN 4 THEN '空值'
        |   ELSE CAST(ascii(substr(m,4,1)) % 500 AS VARCHAR) END AS amount_str,
        |  (ascii(substr(m,1,1)) % 8 >= 3 AND ascii(substr(m,1,1)) % 8 != 4) AS has_flag,
        |  k * 2 + j AS seq
        | FROM base),
        |a4 AS (
        | SELECT * FROM (
        |  SELECT doc_id, item, amount_str,
        |   row_number() OVER (PARTITION BY doc_id, item
        |    ORDER BY (TRY_CAST(regexp_replace(amount_str, '[,\s]', '', 'g') AS DECIMAL(20,2)) > 0) DESC NULLS LAST,
        |             seq) AS rn
        |  FROM lr) WHERE rn = 1),
        |clean AS (
        | SELECT doc_id, item,
        |  CASE WHEN amount_str IS NULL OR amount_str IN ('', 'N/A', '空值', '-', 'nan', 'None')
        |       THEN '0' ELSE amount_str END AS amt
        | FROM a4),
        |wide AS (
        | SELECT doc_id,
        |  max(CASE WHEN item = '存货' THEN amt END) AS "存货",
        |  max(CASE WHEN item = '无形资产' THEN amt END) AS "无形资产",
        |  max(CASE WHEN item = '开发支出' THEN amt END) AS "开发支出"
        | FROM clean GROUP BY doc_id),
        |flags AS (SELECT doc_id, CAST(max(CAST(has_flag AS INT)) AS BOOLEAN) AS has_data_resource
        |          FROM lr GROUP BY doc_id)
        |SELECT wide.doc_id, "存货", "无形资产", "开发支出", has_data_resource
        |FROM wide JOIN flags ON wide.doc_id = flags.doc_id""".stripMargin,

    "crawl_validate" ->
      """WITH probes AS (
        | SELECT concat('https://static.cninfo.example/final/', m, '.pdf') AS url,
        |  CASE WHEN ascii(substr(m,1,1)) % 20 = 0 THEN 404 ELSE 200 END AS status,
        |  CASE ascii(substr(m,2,1)) % 12 WHEN 0 THEN 'text/html'
        |   WHEN 1 THEN 'application/octet-stream'
        |   ELSE 'application/pdf' END AS content_type,
        |  CASE WHEN ascii(substr(m,3,1)) % 3 = 0 THEN '<htm' ELSE '%PDF' END AS magic
        | FROM (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS m FROM orders))
        |SELECT url, status, content_type, magic FROM probes
        |WHERE status = 200
        | AND (content_type = 'application/pdf' OR substr(magic, 1, 4) = '%PDF')""".stripMargin,

    "mm_media_meta" -> graft.ops.MultimodalOps.oracleSql,
    "mm_frame_sample" -> graft.ops.MultimodalOps.frameOracleSql,

    "extract_long_rows" ->
      s"""WITH $spanCtes
        |SELECT doc_id, item, amount_str,
        | 'table_scan' AS method, CAST(off AS BIGINT) AS offset
        |FROM kw WHERE amount_str IS NOT NULL""".stripMargin,

    "seed_expansion" ->
      """SELECT CAST(e.exchange_rank AS BIGINT) AS exchange_rank, e.exchange, c.category,
        | CAST(d.day AS DATE) AS day,
        | CAST(d.day - INTERVAL 3 MONTH AS DATE) AS fiscal_day,
        | CAST(date_part('year', DATE '2024-01-25' - INTERVAL 3 MONTH) AS BIGINT) AS target_year_lo,
        | CAST(date_part('year', DATE '2024-03-05' - INTERVAL 3 MONTH) AS BIGINT) AS target_year_hi
        |FROM (SELECT unnest(generate_series(DATE '2024-01-25', DATE '2024-03-05', INTERVAL 1 DAY)) AS day) d
        |CROSS JOIN (VALUES (0,'sse'),(1,'szse'),(2,'bj'),(3,'neeq'),(4,'star')) e(exchange_rank, exchange)
        |CROSS JOIN (VALUES ('annual'),('semiannual')) c(category)""".stripMargin,

    "priority_topk" ->
      """WITH tasks AS (
        | SELECT CAST(o_orderdate AS DATE) AS announce_date,
        |  lpad(CAST((o_custkey * 37) % 1000000 AS VARCHAR), 6, '0') AS stock_code,
        |  CAST(ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) % 5 + 1 AS BIGINT) AS page_depth,
        |  concat('https://static.cninfo.example/final/', md5(CAST(o_orderkey AS VARCHAR)), '.pdf') AS url
        | FROM orders)
        |SELECT * FROM tasks
        |ORDER BY announce_date, stock_code, page_depth, url
        |LIMIT 100""".stripMargin,

    "crawl_dense_rescale" ->
      s"""WITH $spanCtes,
        |lr AS (SELECT doc_id, item, amount_str, off FROM kw WHERE amount_str IS NOT NULL),
        |a4 AS (
        | SELECT doc_id, item, amount_str FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id, item
        |   ORDER BY (TRY_CAST(regexp_replace(amount_str, '[,\\s]', '', 'g') AS DECIMAL(20,2)) > 0) DESC, off) AS rn
        |  FROM lr) WHERE rn = 1),
        |cats AS (SELECT * FROM (VALUES ('存货', 0), ('无形资产', 1), ('开发支出', 2)) c(item, item_rank)),
        |dense AS (
        | SELECT d.doc_id, c.item, c.item_rank, a4.amount_str AS raw_amt
        | FROM (SELECT DISTINCT doc_id FROM documents) d
        | CROSS JOIN cats c
        | LEFT JOIN a4 ON d.doc_id = a4.doc_id AND c.item = a4.item),
        |cleaned AS (
        | SELECT doc_id, item, item_rank,
        |  CASE WHEN raw_amt IS NULL OR raw_amt IN ('', 'N/A', '空值', '-', 'nan', 'None')
        |       THEN '0' ELSE raw_amt END AS amount_str,
        |  raw_amt IS NOT NULL AS has_data_resource,
        |  CASE doc_id % 7 WHEN 0 THEN 1000000 WHEN 1 THEN 1000 ELSE 1 END AS multiplier
        | FROM dense)
        |SELECT doc_id, item, CAST(item_rank AS BIGINT) AS item_rank, amount_str,
        | has_data_resource, CAST(multiplier AS BIGINT) AS multiplier,
        | CAST(TRY_CAST(regexp_replace(amount_str, '[,\\s]', '', 'g') AS DECIMAL(20,2))
        |      * multiplier * 1000 AS BIGINT) AS amount_milli
        |FROM cleaned""".stripMargin)

}
