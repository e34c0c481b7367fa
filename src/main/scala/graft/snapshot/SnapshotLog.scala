package graft.snapshot

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Minimal snapshot-manifest table layer with Iceberg-shaped
  * semantics (SURVEY.md §4.2 — the sandbox ships no Iceberg jars).
  *
  * Layout under `root/`:
  *   data/<table>/s<id>/...parquet   — immutable per-round delta dirs
  *   snapshot-<id>.json              — manifest: parent id, per-table
  *                                     list of ALL data dirs composing
  *                                     the table at this snapshot, and
  *                                     the round's scalar properties
  *
  * Commit protocol: write data dirs first, then write the manifest to
  * a temp file and atomically rename it into place — a crash anywhere
  * before the rename leaves the previous snapshot intact and the
  * orphan dirs unreferenced (exactly Iceberg's commit story). Latest
  * snapshot = max committed id (the reference's analog: pick the
  * newest timestamped CSV, report_info_collection.py:363-391).
  *
  * Accumulating tables (seen set, results, metrics) commit deltas;
  * replace-tables (the frontier) commit a full rewrite. Readers get
  * one DataFrame over all listed dirs — Parquet scans them in
  * parallel with pushdown/pruning intact.
  */
object SnapshotLog {
  /** `schemas` records each table's canonical column signature
    * (lower-cased `name:type`, sorted) at this snapshot. Every commit
    * records one for each table it writes and carries the parent's
    * forward, and the commit protocol enforces delta compatibility
    * against it without reading any parquet footer.
    */
  final case class Snapshot(id: Long, parent: Long,
                            tables: Map[String, Seq[String]],
                            props: Map[String, String],
                            schemas: Map[String, String] = Map.empty)

  /** Canonical order-insensitive, nullability-insensitive column
    * signature: appending (b int, a string) to a table committed as
    * (a string, b int) is fine; a missing/extra/retyped column is a
    * loud error instead of parquet's silent first-footer column loss.
    */
  def canonicalSchema(schema: org.apache.spark.sql.types.StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
      .map(_.toLowerCase(java.util.Locale.ROOT)).sorted.mkString(",")

  /** Thrown when a commit's caller-supplied precondition rejects the
    * head it would publish against (see [[SnapshotLog.commit]]) — the
    * caller decides whether that is an error or a benign skip (the
    * streaming sink treats it as "batch already committed by a
    * concurrent driver").
    */
  final class CommitPreconditionFailed(msg: String) extends RuntimeException(msg)

  /** The JSON mapper behind the manifest codec (and `graft.Verify`'s
    * oracle dump). Thread-safe once configured.
    */
  private[graft] val Json: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
}

final class SnapshotLog(val root: String) {
  import SnapshotLog.Snapshot

  private val rootPath = Paths.get(root)

  def init(): Unit = Files.createDirectories(rootPath)

  def latest(): Option[Snapshot] = {
    val ids = listIds()
    if (ids.isEmpty) None else Some(read(ids.max))
  }

  /** All committed snapshot ids under the root, unsorted. */
  private def listIds(): Seq[Long] = {
    if (!Files.isDirectory(rootPath)) return Nil
    scala.util.Using.resource(Files.list(rootPath)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
          s.stripPrefix("snapshot-").stripSuffix(".json").toLong }
        .toSeq
    }
  }

  def read(id: Long): Snapshot = parse(Files.readString(manifestPath(id)))

  /** Commit one round. `deltas` = tables gaining a delta dir this
    * round; `replaced` = tables fully rewritten this round. A table
    * absent from both carries over its parent's dirs unchanged.
    * Every DataFrame passed IS written (commit cannot know emptiness
    * without triggering an extra action) — callers who already know a
    * delta is empty should omit it, or the manifest grows a dir per
    * round; accumulating tables are compacted by re-committing the
    * merged result via `replaced` (see CrawlJob's sketch compaction).
    *
    * APPEND SCHEMA ENFORCEMENT: a delta whose canonical column
    * signature (names+types, order- and nullability-insensitive)
    * differs from the table's committed signature fails BEFORE any
    * data is written — a mixed-schema table would read with parquet's
    * first-footer schema and silently drop columns. Replace commits
    * define a fresh signature (that is the schema-evolution path).
    *
    * CONCURRENT COMMITS: data dirs carry a per-commit nonce (two
    * writers never touch the same path), and the manifest is
    * published with CREATE_NEW semantics (hard-link of the fully
    * written temp file — atomic, fails on collision). A losing
    * committer REBUILDS its manifest against the winner's head (its
    * own data dirs stay valid) and retries, so interleaved writers —
    * the batch crawl, the streaming sink, DSv2 saves, SQL INSERTs —
    * serialize instead of silently dropping a commit. `stream_batch:*`
    * props are STICKY: every commit carries the parent's forward, so
    * the streaming sink's idempotence watermark survives any
    * interleaving and any expiry that keeps HEAD.
    */
  def commit(deltas: Map[String, DataFrame], replaced: Map[String, DataFrame],
             props: Map[String, String]): Snapshot =
    commit(deltas, replaced, props, _ => true)

  def commit(deltas: Map[String, DataFrame], replaced: Map[String, DataFrame],
             props: Map[String, String],
             precondition: Option[Snapshot] => Boolean): Snapshot = {
    init()
    val parent0 = latest()
    // `precondition` is evaluated against the head this commit would
    // publish on — HERE (before any data write, failing fast) and
    // again at EVERY publish-loop iteration (ADVICE r6 high: the head
    // can also move during the data writes themselves — the commit's
    // WIDEST window — so a loop that re-checked only after a detected
    // link collision left a zombie driver free to publish first-try
    // against a head that moved mid-write). That closes the sink's
    // check-then-commit race completely: a zombie replaying a batch a
    // live driver committed at ANY point before our link sees the
    // winner's watermark and aborts (CommitPreconditionFailed) instead
    // of double-publishing. A loser aborting after its data writes
    // leaves nonce-named orphan dirs: unreferenced and invisible to
    // readers, collected by [[gcOrphanDirs]] (NOT by expiry, which
    // only ever deletes dirs referenced by expired manifests).
    def checkPre(parent: Option[Snapshot]): Unit =
      if (!precondition(parent))
        throw new SnapshotLog.CommitPreconditionFailed(
          s"commit precondition rejected head ${parent.map(_.id).getOrElse(-1L)} under $root")
    checkPre(parent0)
    deltas.foreach { case (n, df) => checkAppendSchema(parent0, n, df) }

    // nonce-unique dir names: commit ids are claimed only at manifest
    // publish, so concurrent committers would otherwise race the same
    // data/<table>/s<id> path (mode overwrite = silent clobber)
    val nonce = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    val baseId = parent0.map(_.id + 1).getOrElse(0L)

    def writeDir(name: String, df: DataFrame): String = {
      val dir = rootPath.resolve("data").resolve(name)
        .resolve(s"s$baseId-$nonce").toString
      df.write.mode("overwrite").parquet(dir)
      dir
    }

    // The per-table writes are independent Spark jobs — submit them
    // CONCURRENTLY (Spark's scheduler interleaves jobs from multiple
    // driver threads), so a commit costs ~the largest table's write
    // instead of the sum of all of them. Atomicity is unaffected: the
    // manifest rename below happens only after every write returned.
    // Failure handling: EVERY in-flight write is awaited before a
    // failure propagates — otherwise a caller retrying commit() in the
    // same JVM would recompute the same id and race zombie writers
    // still writing data/<table>/s<id> underneath the new attempt.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes: Seq[(String, Boolean, Future[String])] =
      (deltas.toSeq.map { case (n, df) => (n, false, df) } ++
        replaced.toSeq.map { case (n, df) => (n, true, df) })
        .map { case (n, repl, df) => (n, repl, Future(writeDir(n, df))) }
    val settled = writes.map { case (n, repl, f) =>
      (n, repl, Try(Await.result(f, Duration.Inf))) }
    settled.collectFirst { case (_, _, scala.util.Failure(e)) => e }
      .foreach(e => throw e)
    val written = settled.map { case (n, repl, t) => (n, repl, t.get) }
    val writtenSchemas: Map[String, String] =
      (deltas ++ replaced).map { case (n, df) =>
        n -> SnapshotLog.canonicalSchema(df.schema) }

    // Optimistic publish: build the manifest against the CURRENT head,
    // claim the next id with an atomic CREATE_NEW hard link, and on
    // collision rebuild against the new head and retry — our data dirs
    // are nonce-named, so only the manifest needs recomputing.
    var attempt = 0
    while (true) {
      val parent = latest()
      val id = parent.map(_.id + 1).getOrElse(0L)
      // Re-check the precondition against the head we are ABOUT TO
      // publish on, unconditionally — it is trivially cheap next to a
      // commit, and the head may have moved during the data writes
      // even when attempt == 0 (ADVICE r6). The schema gate re-runs
      // only when the head actually moved (signature compare is
      // footer-free, but it is still per-delta work).
      checkPre(parent)
      if (parent.map(_.id) != parent0.map(_.id)) {
        deltas.foreach { case (n, df) => checkAppendSchema(parent, n, df) }
      }
      val parentTables = parent.map(_.tables).getOrElse(Map.empty)
      val afterDeltas = written.collect { case (n, false, dir) => n -> dir }
        .foldLeft(parentTables) { case (acc, (name, dir)) =>
          acc.updated(name, acc.getOrElse(name, Nil) :+ dir)
        }
      val afterReplace = written.collect { case (n, true, dir) => n -> dir }
        .foldLeft(afterDeltas) { case (acc, (name, dir)) =>
          acc.updated(name, Seq(dir))
        }
      val schemas = parent.map(_.schemas).getOrElse(Map.empty) ++ writtenSchemas
      // STICKY props (explicit props win): stream-sink watermarks
      // (`stream_batch:*`) and the crawl's resume cursor (`round`/
      // `done`). Both are progress state that must survive any
      // interleaving AND any expiry that keeps at least one snapshot —
      // round 5 made the watermarks sticky; ADVICE r5 (medium) showed
      // the same expiry hazard reseeds a finished crawl when the crawl
      // commits expire while maintenance/stream commits survive at
      // HEAD (round/done lost → CrawlJob.seedCommit() replaces the
      // frontier and restarts from round 0).
      val stickyKeys = Set("round", "done")
      val sticky = parent.map(_.props).getOrElse(Map.empty)
        .filter { case (k, _) => k.startsWith("stream_batch:") || stickyKeys(k) }
      val snap = Snapshot(id, parent.map(_.id).getOrElse(-1L), afterReplace,
        sticky ++ props, schemas)
      def loseRace(): Unit = {
        attempt += 1
        require(attempt <= 16,
          s"snapshot commit lost $attempt manifest races under $root — giving up")
      }
      val tmp = Files.createTempFile(rootPath, s".snapshot-$id", ".tmp")
      try {
        Files.writeString(tmp, render(snap))
        beforePublish()
        try {
          // hard link = atomic publish of the fully-written temp file
          // WITH CREATE_NEW semantics (POSIX rename would silently
          // replace a concurrent winner's manifest)
          linkFn(manifestPath(id), tmp)
          return snap
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => loseRace()
          case e if isNoHardLinkSupport(e) =>
            // Fallback for filesystems without hard links (some NFS/
            // FUSE/object-store mounts, ADVICE r5; some mounts throw
            // FileSystemException("Operation not permitted") instead
            // of UnsupportedOperationException, ADVICE r6): ATOMIC_MOVE
            // keeps reader-side atomicity (no partial manifest is ever
            // visible) but loses CREATE_NEW — a winner publishing
            // inside the exists→move window would be silently
            // REPLACED, losing a committed snapshot entirely. So in
            // fallback mode any DETECTED second writer is a hard stop
            // (ADVICE r6: fail, don't warn-and-retry — retry cannot be
            // made race-free without CREATE_NEW), and after the move
            // the manifest is re-read to detect the case where WE were
            // the silently-replaced side. Single-writer logs publish
            // normally (warned once).
            if (Files.exists(manifestPath(id)))
              throw new IllegalStateException(
                s"graft-snapshot: concurrent committer detected under $root on a " +
                  "filesystem without hard-link support — ATOMIC_MOVE publish cannot " +
                  "serialize multi-writer commits (the exists→move window silently " +
                  "replaces the winner's manifest); refusing to retry. Use a " +
                  "POSIX-local, hard-link-capable root for multi-writer logs.")
            if (!noLinkWarned) {
              noLinkWarned = true
              System.err.println(s"[graft-snapshot] WARNING: filesystem under $root " +
                "does not support hard links — manifest publish degrades to ATOMIC_MOVE, " +
                "which cannot exclude a concurrent committer; use a POSIX-local root for " +
                "multi-writer logs")
            }
            Files.move(tmp, manifestPath(id), StandardCopyOption.ATOMIC_MOVE)
            // Post-move clobber detection: if another fallback writer
            // moved its manifest over the same id after ours, OUR
            // commit is gone from disk — surface the loss loudly
            // rather than return success for a vanished snapshot.
            val onDisk = Files.readString(manifestPath(id))
            if (onDisk != render(snap))
              throw new IllegalStateException(
                s"graft-snapshot: manifest ${manifestPath(id)} was REPLACED by a " +
                  "concurrent committer after our ATOMIC_MOVE publish — this commit " +
                  "has been lost. Multi-writer logs require a hard-link-capable root.")
            return snap
        }
      } finally Files.deleteIfExists(tmp) // no leak on ANY exit (ADVICE r5)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seam: runs between manifest render and publish, so a spec
    * can deterministically interleave a competing commit.
    */
  private[graft] var beforePublish: () => Unit = () => ()

  /** The manifest-publish primitive: atomic CREATE_NEW hard link of
    * the fully-written temp file. A test seam so specs can exercise
    * the no-hard-link ATOMIC_MOVE fallback deterministically (throw
    * `UnsupportedOperationException` / a "not permitted"
    * `FileSystemException`) — before round 7 that branch had only a
    * disclosure, no coverage (VERDICT r6 #5).
    */
  private[graft] var linkFn: (Path, Path) => Unit =
    (link, existing) => { Files.createLink(link, existing); () }

  /** Hard links unsupported? Standard JDK signal is
    * `UnsupportedOperationException`; some NFS/FUSE mounts surface it
    * as a generic `FileSystemException` with reason/message
    * "Operation not permitted" (ADVICE r6). `FileAlreadyExistsException`
    * extends FileSystemException and is matched FIRST by the caller.
    */
  private def isNoHardLinkSupport(e: Throwable): Boolean = e match {
    case _: UnsupportedOperationException => true
    case fse: java.nio.file.FileSystemException =>
      (Option(fse.getReason) ++ Option(fse.getMessage))
        .exists(_.toLowerCase(java.util.Locale.ROOT).contains("operation not permitted"))
    case _ => false
  }

  /** One warning per log instance for the no-hard-link fallback. */
  private var noLinkWarned = false

  /** Append-compatibility gate (see commit): delta schema must match
    * the table's recorded canonical signature. A table that has dirs
    * but no recorded signature fails closed.
    */
  private def checkAppendSchema(parent: Option[Snapshot], name: String,
                                df: DataFrame): Unit = {
    val existing: Option[String] = parent.flatMap { p =>
      p.schemas.get(name).orElse(
        p.tables.get(name).filter(_.nonEmpty).map(_ => "(no recorded schema)"))
    }
    val incoming = SnapshotLog.canonicalSchema(df.schema)
    existing.filter(_ != incoming).foreach { exp =>
      throw new IllegalArgumentException(
        s"graft-snapshot: schema mismatch appending to table '$name' under $root\n" +
          s"  table:    $exp\n  incoming: $incoming\n" +
          "Appends must match the committed columns (order-insensitive); " +
          "commit via `replaced` (DataFrame overwrite / replace commit) to evolve the schema.")
    }
  }

  /** Read a table as of a snapshot; None/empty schema-less tables are
    * the caller's problem — callers always know their schema and pass
    * a fallback via `orElse`.
    */
  def readTable(spark: SparkSession, snap: Snapshot, name: String): Option[DataFrame] =
    snap.tables.get(name).filter(_.nonEmpty).map(dirs => spark.read.parquet(dirs: _*))

  /** Data-file compaction for an accumulating table: rewrite all of
    * its delta dirs as ONE replace commit. Old snapshots still
    * reference the old dirs (history is immutable — time travel to a
    * pre-compaction id sees exactly what it saw); only the HEAD's dir
    * list shrinks. At the design point an accumulating table gains a
    * dir per round, so un-compacted reads pay O(rounds) directory
    * listings and footer fetches — run this (or the sketch table's
    * automatic equivalent, SeenFilter.SketchCompactEvery) on a
    * maintenance cadence. `targetFiles` bounds the rewrite fan-in.
    * Returns the new snapshot (None if the table is absent/empty).
    */
  def compactTable(spark: SparkSession, name: String, targetFiles: Int = 32): Option[Snapshot] =
    latest().flatMap { snap =>
      readTable(spark, snap, name).map { df =>
        commit(Map.empty, Map(name -> df.coalesce(targetFiles)),
          props = Map("maintenance" -> s"compact:$name"))
      }
    }

  /** Snapshot expiry: delete manifests older than the newest
    * `keepLast` and every data dir no surviving snapshot references.
    * This is one of the two DESTRUCTIVE operations in the log (the
    * other is [[gcOrphanDirs]]) — time travel to an expired id stops
    * working, which is the point (bounded storage). Crash-safe
    * ordering: manifests are deleted FIRST, so a crash mid-expiry
    * leaves orphan data dirs (invisible to readers, collected by
    * [[gcOrphanDirs]] — NOT by a re-run of expiry, which only ever
    * inspects dirs referenced by manifests that still exist) rather
    * than manifests naming missing data. Returns (manifests deleted,
    * data dirs deleted).
    */
  def expireSnapshots(keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val ids = listIds().sorted
    val (expired, kept) = ids.splitAt(math.max(0, ids.size - keepLast))
    if (expired.isEmpty) return (0, 0)
    val keptDirs: Set[String] =
      kept.flatMap(id => read(id).tables.values.flatten).toSet
    val expiredDirs: Set[String] =
      expired.flatMap(id => read(id).tables.values.flatten).toSet -- keptDirs
    expired.foreach(id => Files.deleteIfExists(manifestPath(id)))
    var deletedDirs = 0
    expiredDirs.foreach { dir =>
      if (deleteDirRecursively(Paths.get(dir))) deletedDirs += 1
    }
    (expired.size, deletedDirs)
  }

  /** Orphan data-dir GC (VERDICT r6 #1): delete every dir under
    * `root/data/<table>/` that NO live manifest references and whose
    * newest file is older than `graceMs`. Orphans arise from
    * (a) a commit aborted between its data writes and its manifest
    * publish — crash, precondition abort (the zombie-driver path), or
    * a give-up after 16 lost manifest races — and (b) a crash
    * mid-expiry (manifests delete before their data dirs). Neither is
    * reachable by [[expireSnapshots]], which deletes only dirs
    * referenced by EXPIRED manifests: a dir referenced by NO manifest
    * is invisible to it forever, so under sustained contention or
    * zombie replay the orphans grow without bound.
    *
    * SAFETY: a CONCURRENT committer's freshly written dirs are also
    * unreferenced until its manifest lands, so `graceMs` must exceed
    * the longest plausible commit's data-write-to-publish window (the
    * default, 24 h, is generous; tests pass 0 on quiesced logs). Age
    * is the MAX last-modified time over the dir's tree — parquet
    * finalizes files by rename out of `_temporary`, which refreshes
    * the dir mtime, and the max is robust to any order. Returns the
    * number of dirs deleted.
    */
  def gcOrphanDirs(graceMs: Long = 24L * 3600 * 1000): Int = {
    val dataRoot = rootPath.resolve("data")
    if (!Files.isDirectory(dataRoot)) return 0
    // Liveness is keyed by the layout-invariant suffix
    // <table>/<delta-dir> (delta dir names are nonce-unique), NOT by
    // absolute-path string identity: manifests record the root as the
    // WRITER spelled it, so a maintenance process opening the same log
    // via a different spelling (relative vs absolute CWD, a symlinked
    // mount) would otherwise see zero overlap between recorded and
    // listed dirs — and a destructive op that mistakes live data for
    // orphans deletes committed tables. A concurrently-expired
    // manifest (listIds raced an expireSnapshots) is skipped: its
    // dirs were already handled by that expiry, exactly as if
    // listIds had run after it; any OTHER read failure aborts the
    // GC (fail-safe: never delete on partial knowledge).
    def dirKey(table: String, dir: String): (String, String) = (table, dir)
    val live: Set[(String, String)] =
      listIds().flatMap { id =>
        try Some(parse(Files.readString(manifestPath(id))))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }.flatMap(_.tables.toSeq.flatMap { case (t, dirs) =>
        dirs.map(d => dirKey(t, Paths.get(d).getFileName.toString))
      }).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def newestMtime(p: Path): Long =
      scala.util.Using.resource(Files.walk(p)) { walk =>
        walk.iterator().asScala
          .map(f => Files.getLastModifiedTime(f).toMillis).max
      }
    val tableDirs = scala.util.Using.resource(Files.list(dataRoot)) { s =>
      s.iterator().asScala.filter(Files.isDirectory(_)).toSeq }
    var deleted = 0
    tableDirs.foreach { t =>
      val candidates = scala.util.Using.resource(Files.list(t)) { s =>
        s.iterator().asScala.filter(Files.isDirectory(_)).toSeq }
      candidates.foreach { d =>
        val key = dirKey(t.getFileName.toString, d.getFileName.toString)
        if (!live.contains(key) && newestMtime(d) < cutoff) {
          if (deleteDirRecursively(d)) deleted += 1
        }
      }
    }
    deleted
  }

  /** Recursive delete; true iff the path was a directory. */
  private def deleteDirRecursively(p: Path): Boolean = {
    if (!Files.isDirectory(p)) return false
    scala.util.Using.resource(Files.walk(p)) { walk =>
      walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }
    true
  }

  private def manifestPath(id: Long): Path = rootPath.resolve(f"snapshot-$id%06d.json")

  /** Manifest codec: one JSON object `{"id", "parent", "tables",
    * "props", "schemas"}` written through Jackson's tree model. Map
    * keys are written in sorted order, so a snapshot always renders to
    * the same bytes (the ATOMIC_MOVE fallback's clobber check compares
    * them).
    */
  private[graft] def render(s: Snapshot): String = {
    val top = SnapshotLog.Json.createObjectNode().put("id", s.id).put("parent", s.parent)
    val tables = top.putObject("tables")
    s.tables.toSeq.sortBy(_._1).foreach { case (n, dirs) =>
      dirs.foldLeft(tables.putArray(n))(_.add(_)) }
    Seq("props" -> s.props, "schemas" -> s.schemas).foreach { case (field, m) =>
      val o = top.putObject(field)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    }
    SnapshotLog.Json.writeValueAsString(top)
  }

  /** Inverse of [[render]]. `id` and `parent` are required integral
    * numbers; `tables`, `props` and `schemas` default to empty. A
    * truncated or corrupted manifest (a torn write on a non-atomic
    * filesystem, a partial copy, a doubled write) always throws
    * `IllegalArgumentException` whose message contains "manifest
    * parse" — never a silently garbled Snapshot. Trailing whitespace
    * is accepted; trailing tokens are not.
    */
  private[graft] def parse(js: String): Snapshot = try {
    val top = SnapshotLog.Json.readTree(js)
    require(top.isObject, "manifest parse: not a JSON object")
    def long(field: String): Long = {
      val n = top.get(field)
      require(n != null && n.isIntegralNumber && n.canConvertToLong,
        s"manifest parse: missing or non-integral field $field")
      n.longValue
    }
    def obj(field: String): Map[String, JsonNode] = Option(top.get(field)).map { n =>
      require(n.isObject, s"manifest parse: field $field is not an object")
      n.properties().asScala.map(e => e.getKey -> e.getValue).toMap
    }.getOrElse(Map.empty)
    def text(n: JsonNode): String = {
      require(n.isTextual, s"manifest parse: non-string value $n")
      n.textValue
    }
    Snapshot(long("id"), long("parent"),
      obj("tables").map { case (k, v) =>
        require(v.isArray, s"manifest parse: table $k is not an array")
        k -> v.elements().asScala.map(text).toSeq
      },
      obj("props").map { case (k, v) => k -> text(v) },
      obj("schemas").map { case (k, v) => k -> text(v) })
  } catch {
    case e: IllegalArgumentException => throw e // the requires above
    case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"manifest parse: truncated or corrupt manifest (${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("")})", e)
  }
}
