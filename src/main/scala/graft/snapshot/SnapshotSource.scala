package graft.snapshot

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector over a [[SnapshotLog]] — the "switch to
  * this library" API surface: any Spark user (SQL, Python, R) can
  * read AND write a snapshot table with the plain DataFrame API, time
  * travel included, and reads get the full native parquet scan
  * underneath (predicate pushdown, column pruning, vectorized reader
  * — the scan IS Spark's parquet scan over the manifest's file list):
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("root", "/path/to/snapshots")
  *     .option("table", "seen")
  *     .option("asOf", "3")          // optional: snapshot id time travel
  *     .load()
  *
  *   df.write.format("graft-snapshot")
  *     .option("root", "/path/to/snapshots")
  *     .option("table", "seen")
  *     .mode("append")               // append = delta commit;
  *     .save()                       // overwrite = replace commit
  * }}}
  *
  * Writes go through the SAME atomic protocol as the Scala API
  * ([[SnapshotLog.commit]]): data dirs first, manifest rename last —
  * a crash leaves the previous snapshot intact. `append` commits a
  * delta dir (accumulating-table semantics); `overwrite` commits a
  * full replace. Writing with `asOf` set is rejected (commits only
  * ever advance the head). `ErrorIfExists`/`Ignore` save modes are
  * not supported for catalog-less v2 sources (Spark restriction) —
  * use append or overwrite.
  *
  * Reference analog: stage 1 writing its timestamped CSV and stage 2
  * discovering the newest one (cninfo_report_crawler.py:535-537,
  * report_info_collection.py:363-391) — here the manifest, not a
  * filename convention, names the exact file set.
  *
  * Resolution happens ONCE per load, at `inferSchema` time, and is
  * pinned for the matching `getTable` call — a commit landing between
  * the two calls cannot make the scan read a different file set than
  * the schema was inferred from. A user-supplied read schema is
  * honored (passed to the parquet scan as the user-specified schema).
  */
final class SnapshotSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  override def supportsExternalMetadata(): Boolean = true

  // One provider instance serves one read/write resolution; the pin
  // makes inferSchema and getTable agree on the snapshot even if a
  // commit lands between the two calls.
  @volatile private var pinned: Option[ResolvedSnapshot] = None

  private def resolve(options: CaseInsensitiveStringMap): ResolvedSnapshot = {
    val root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException("graft-snapshot: missing option 'root'"))
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("graft-snapshot: missing option 'table'"))
    val asOf = Option(options.get("asOf")).map(_.toLong)
    pinned match {
      case Some(r) if r.root == root && r.table == table && r.asOf == asOf => r
      case _ =>
        val r = ResolvedSnapshot.resolve(root, table, asOf)
        pinned = Some(r)
        r
    }
  }

  /** Absent table/snapshot → empty schema: the write path needs to
    * get through here for a brand-new log (the table then advertises
    * ACCEPT_ANY_SCHEMA and takes its schema from the inserted data);
    * a READ of an absent table fails at scan build with the
    * descriptive error instead.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val r = resolve(options)
    r.parquetTable("graft_snapshot_", options, None).map(_.schema).getOrElse(new StructType())
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val r = resolve(options)
    val userSchema = if (schema != null && schema.nonEmpty) Some(schema) else None
    new SnapshotV2Table(r, r.parquetTable("graft_snapshot_", options, userSchema))
  }
}

/** The resolved v2 table: reads delegate to the native parquet table
  * over the pinned snapshot's dirs; writes commit through the
  * [[SnapshotLog]] protocol.
  */
private[snapshot] final class SnapshotV2Table(r: ResolvedSnapshot,
                                              parquet: Option[ParquetTable])
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String =
    s"graft_snapshot_${r.table}_s${r.snapId.getOrElse(-1L)}"

  override def schema(): StructType =
    parquet.map(_.schema).getOrElse(new StructType())

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    // BOTH write capabilities: BATCH_WRITE passes DataFrameWriter
    // .save()'s support gate; V1_BATCH_WRITE makes DataSourceV2Strategy
    // route the plan to the V1 write exec (the write is a V1Write —
    // the InsertableRelation fallback, as Spark's JDBC v2 uses).
    caps.add(TableCapability.BATCH_WRITE)
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    // BATCH_READ is advertised even when the table is absent: the
    // reader's capability gate otherwise fails with an opaque "not a
    // valid Data Source" — this way a read of a missing table reaches
    // newScanBuilder and gets the descriptive error instead.
    caps.add(TableCapability.BATCH_READ)
    if (parquet.isEmpty)
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA) // new table: schema = inserted data's
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    parquet.map(_.newScanBuilder(options)).getOrElse(
      throw new IllegalArgumentException(
        s"graft-snapshot: table '${r.table}' absent from " +
          r.snapId.map(id => s"snapshot $id").getOrElse(s"(no snapshot under ${r.root})")))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SnapshotWriteBuilder(r.root, r.table, r.asOf)
}

/** One pinned resolution: (root, table, asOf) → the snapshot id and
  * data dirs the whole load/save will see. Shared by [[SnapshotSource]]
  * and [[SnapshotCatalog]].
  */
private[snapshot] final case class ResolvedSnapshot(root: String, table: String,
                                                    asOf: Option[Long],
                                                    snapId: Option[Long],
                                                    dirs: Seq[String]) {

  /** Spark's native parquet table over the resolved dirs, named
    * `<prefix><table>_s<id>`; None when the table is absent.
    */
  def parquetTable(prefix: String, options: CaseInsensitiveStringMap,
                   userSchema: Option[StructType]): Option[ParquetTable] =
    if (dirs.isEmpty) None
    else Some(ParquetTable(s"$prefix${table}_s${snapId.getOrElse(-1L)}",
      SparkSession.active, options, dirs, userSchema, classOf[ParquetFileFormat]))
}

private[snapshot] object ResolvedSnapshot {
  /** Snapshot `asOf` (latest when None) of the log under `root`. */
  def resolve(root: String, table: String, asOf: Option[Long]): ResolvedSnapshot = {
    val log = new SnapshotLog(root)
    val snap = asOf.fold(log.latest())(id => Some(log.read(id)))
    ResolvedSnapshot(root, table, asOf, snap.map(_.id),
      snap.flatMap(_.tables.get(table)).getOrElse(Seq.empty))
  }
}

private[snapshot] final class SnapshotWriteBuilder(root: String, table: String,
                                                   asOf: Option[Long])
  extends WriteBuilder with SupportsTruncate {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        require(asOf.isEmpty,
          "graft-snapshot: cannot write with 'asOf' set — commits only advance the head")
        val log = new SnapshotLog(root)
        log.init()
        val props = Map("writer" -> "graft-snapshot-dsv2", "write_table" -> table)
        if (replace || overwrite) log.commit(Map.empty, Map(table -> data), props)
        else log.commit(Map(table -> data), Map.empty, props)
      }
    }
  }
}
