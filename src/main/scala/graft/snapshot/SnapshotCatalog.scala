package graft.snapshot

import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` over one [[SnapshotLog]] — the pure-SQL
  * surface: configure once, then plain SQL (no Scala, no options per
  * query) reads and writes snapshot tables, time travel included:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.snapshot.SnapshotCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/path/to/snapshots")
  *
  *   spark.sql("SELECT * FROM graft.seen")
  *   spark.sql("SELECT * FROM graft.seen VERSION AS OF 3")   // snapshot id
  *   spark.sql("INSERT INTO graft.results SELECT ...")       // delta commit
  *   spark.sql("SHOW TABLES IN graft")
  * }}}
  *
  * `INSERT INTO` appends a delta dir through the same atomic
  * manifest-rename commit as every other writer ([[SnapshotLog
  * .commit]]); `INSERT OVERWRITE` replaces the table. Tables come
  * into existence by being committed to (the log has no separate
  * schema registry — exactly Iceberg's table-from-first-commit
  * story is NOT emulated here; `CREATE TABLE` is rejected, write a
  * first delta instead).
  *
  * Snapshot resolution is per-`loadTable` (one query plans against
  * one snapshot — the same pinning contract as [[SnapshotSource]]).
  */
final class SnapshotCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotCatalog '$name': missing option 'spark.sql.catalog.$name.root'"))
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array.empty

  private def log = new SnapshotLog(root)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, s"SnapshotCatalog has a flat namespace, got ${namespace.mkString(".")}")
    log.latest().map(_.tables.keys.toArray.sorted.map(t => Identifier.of(Array.empty, t)))
      .getOrElse(Array.empty)
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    require(ident.namespace().isEmpty,
      s"SnapshotCatalog has a flat namespace, got ${ident.namespace().mkString(".")}")
    val r = ResolvedSnapshot.resolve(root, ident.name(), asOf)
    val options = new CaseInsensitiveStringMap(java.util.Collections.emptyMap())
    new SnapshotV2Table(r, r.parquetTable(s"$catalogName.", options, None))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <id>` time travel — the version string is the
    * snapshot id.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      log.latest().exists(_.tables.get(ident.name()).exists(_.nonEmpty))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "SnapshotCatalog: tables come into existence by being committed to — " +
        "INSERT INTO (or the DataFrame writer) a first delta instead of CREATE TABLE")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("SnapshotCatalog: ALTER TABLE is not supported")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "SnapshotCatalog: snapshots are immutable history — DROP TABLE is not supported")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("SnapshotCatalog: RENAME TABLE is not supported")
}
