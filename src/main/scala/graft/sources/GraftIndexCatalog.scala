package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog face of the graft-index serving tables: a READ-ONLY
  * [[TableCatalog]] that maps identifiers onto the directory layout the
  * index writers produce, so probe queries address indexes by NAME
  * (`SELECT ... FROM graft.my_ivf.cells`, `spark.table(...)`) instead
  * of by filesystem path. Register it per session:
  *
  * {{{
  * spark.sql.catalog.graft      = graft.sources.GraftIndexCatalog
  * spark.sql.catalog.graft.root = /indexes            // the serving root
  * }}}
  *
  * An index written to `<root>/my_ivf` by writeIvfIndex/writeGraphIndex
  * is the NAMESPACE `my_ivf`; its sub-tables (`cells`, `cents`, `vecs`,
  * `edges`) are the catalog tables — `graft.my_ivf.cells` loads a
  * [[GraftIndexTable]] over `<root>/my_ivf/cells` with every pushdown
  * surface of the path-routed read (partition pruning, V2 runtime
  * filtering, footer aggregates, key-grouped reporting, the vectorized
  * lane). listTables lists the sub-directories; mutations are refused —
  * index lifecycle (write/append/delete) stays with the writers, which
  * own the layout's invariants (partition discipline, stored-centroid
  * admission). Dropping/creating through SQL would bypass those.
  */
class GraftIndexCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"graft-index catalog '$name' needs spark.sql.catalog.$name.root")
    root = new Path(r)
  }

  override def name(): String = catalogName

  private[graft] def dirOf(segments: Seq[String]): Path =
    segments.foldLeft(root)((p, s) => new Path(p, s))

  private def fs = root.getFileSystem(GraftIndexTable.activeHadoopConf())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory)
      .map(d => Identifier.of(namespace, d.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(dirOf(ident.namespace().toSeq :+ ident.name()))

  override def loadTable(ident: Identifier): Table = {
    val p = dirOf(ident.namespace().toSeq :+ ident.name())
    if (!fs.exists(p)) throw new NoSuchTableException(ident)
    new GraftIndexTable(p.toString, GraftIndexTable.inferSchema(p.toString))
  }

  // ---- namespaces (round-11 DDL surface: SHOW NAMESPACES / DESCRIBE) --
  // an index directory under the root IS a namespace; its sub-tables
  // are the tables. One level by construction (the writers emit
  // <root>/<index>/<sub-table>), so namespaces never nest.
  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(d => Array(d.getPath.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // sub-dirs are TABLES
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && fs.exists(dirOf(namespace.toSeq)) &&
      fs.getFileStatus(dirOf(namespace.toSeq)).isDirectory

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.singletonMap(
      SupportsNamespaces.PROP_LOCATION, dirOf(namespace.toSeq).toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"graft-index catalog '$catalogName' is read-only: indexes are " +
        "created by the index writers (writeIvfIndex/writeGraphIndex)")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"graft-index catalog '$catalogName' is read-only")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = false

  // ---- read-only: lifecycle belongs to the index writers --------------
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"graft-index catalog '$catalogName' is read-only: indexes are " +
        "created by the index writers (writeIvfIndex/writeGraphIndex)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"graft-index catalog '$catalogName' is read-only")

  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"graft-index catalog '$catalogName' is read-only")
}

object GraftIndexCatalog {
  /** Directory behind a catalog-qualified table name
    * (`catalog.index.sub`), when its first part names a registered
    * [[GraftIndexCatalog]]; None for any other catalog. Resolves the
    * name only: no table is loaded and nothing is read.
    */
  private[graft] def dirOf(s: org.apache.spark.sql.SparkSession,
      name: String): Option[String] = {
    val parts = s.sessionState.sqlParser.parseMultipartIdentifier(name)
    scala.util.Try(s.sessionState.catalogManager.catalog(parts.head)).toOption
      .collect { case c: GraftIndexCatalog if parts.size > 1 =>
        c.dirOf(parts.tail).toString }
  }
}
