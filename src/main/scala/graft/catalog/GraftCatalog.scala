package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.GraftModel
import graft.sources.usl.UslTable

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** The `graft` plugin catalog: a DSv2 TableCatalog + SupportsNamespaces that
  * federates JDBC / file / unstructured / USL tables registered by DDL
  * (reference: catalog/AbstractLightningCatalog.scala:47-360).
  *
  * Two hard-coded root namespaces: `datasource` and `metastore`
  * (reference: AbstractLightningCatalog.scala:152-159). The catalog only
  * routes: [[route]] walks an identifier up to the nearest registered
  * datasource and every per-source table operation goes to that source's
  * [[CatalogUnit]]; metastore identifiers resolve registered table
  * snapshots (schema override, no re-inference) and activated USL tables.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = GraftEnv.DefaultCatalogName
  private var model: GraftModel = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(s"spark.sql.catalog.$name.warehouse must be set"))
    model = GraftModel(wh)
  }

  override def name(): String = catalogName

  /** The unit of the nearest datasource at or above `path`, plus the part
    * of `path` below that datasource.
    */
  private def route(path: Seq[String]): Option[(CatalogUnit, Seq[String])] =
    model.findParentDataSource(path).map { case (ds, rest) => (CatalogUnit(ds), rest) }

  /** [[route]] for a table: its unit and the namespace below the datasource. */
  private def routeTable(ns: Seq[String], name: String): Option[(CatalogUnit, Seq[String])] =
    route(ns :+ name).map { case (u, rest) => (u, rest.dropRight(1)) }

  private def withTable[T](ident: Identifier)(op: (CatalogUnit, Seq[String]) => T): T =
    routeTable(ident.namespace.toSeq, ident.name).map(op.tupled)
      .getOrElse(throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name))

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    GraftModel.Roots.map(r => Array(r)).toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    val own = model.listNamespaces(ns.toSeq)
    // a source's own namespaces (a JDBC source's remote schemas) surface as children
    val delegated = route(ns.toSeq).toSeq.flatMap { case (u, rest) =>
      u.listNamespaces(spark, rest).map(child => ns.toSeq ++ child.drop(rest.size))
    }
    (own ++ delegated).distinct.map(_.toArray).toArray
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    model.namespaceExists(ns.toSeq) || route(ns.toSeq).isDefined

  override def loadNamespaceMetadata(ns: Array[String]): JMap[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns.toSeq)
    model.namespaceProperties(ns.toSeq).asJava
  }

  override def createNamespace(ns: Array[String], metadata: JMap[String, String]): Unit =
    model.createNamespace(ns.toSeq, metadata.asScala.toMap)

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean =
    model.dropNamespace(ns.toSeq)

  // ---- tables ----

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val nsSeq = ns.toSeq
    val registered = model.listRegisteredTables(nsSeq)
    val fromSource = route(nsSeq).map { case (u, rest) => u.listTables(spark, rest) }.getOrElse(Nil)
    val fromUsl = model.findUslFor(nsSeq).map(_.tables.map(_.name)).getOrElse(Nil)
    (registered ++ fromSource ++ fromUsl).distinct.sorted
      .map(t => Identifier.of(ns, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch { case _: Exception => false }

  override def loadTable(ident: Identifier): Table = {
    val ns = ident.namespace.toSeq
    val name = ident.name

    // 1. metastore-registered table snapshot: re-resolve the source with the
    //    ingested schema (no re-inference; reference: AbstractLightningCatalog.scala:266-271)
    model.loadRegisteredTable(ns, name).foreach { reg =>
      val srcName = reg.sourceFqn.last
      return routeTable(reg.sourceFqn.dropRight(1), srcName)
        .map { case (u, rest) => u.loadTable(spark, rest, srcName, Some(reg.schema)) }
        .getOrElse(throw new NoSuchTableException(ns :+ name))
    }

    // 2. USL virtual table (namespace tail = USL name)
    model.findUslFor(ns).foreach { usl =>
      usl.tables.find(_.name.equalsIgnoreCase(name)).foreach { spec =>
        return UslTable((ns :+ name).mkString("."), spec)
      }
    }

    // 3. datasource-routed table
    withTable(ident)(_.loadTable(spark, _, name, None))
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    routeTable(ident.namespace.toSeq, ident.name)
      .map { case (u, rest) => u.createTable(spark, rest, ident.name, columns, partitions, properties) }
      .getOrElse(throw new NoSuchNamespaceException(ident.namespace.toSeq))

  @deprecated("use the Column-based overload", "")
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    createTable(ident, org.apache.spark.sql.GraftSQLBridge.structTypeToV2Columns(schema), partitions, properties)

  override def loadTable(ident: Identifier, version: String): Table =
    withTable(ident)(_.loadTableVersion(spark, _, ident.name, version))

  override def loadTable(ident: Identifier, timestamp: Long): Table =
    withTable(ident)(_.loadTableTimestamp(spark, _, ident.name, timestamp))

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    withTable(ident)(_.alterTable(spark, _, ident.name, changes.toSeq))

  override def dropTable(ident: Identifier): Boolean =
    routeTable(ident.namespace.toSeq, ident.name)
      .exists { case (u, rest) => u.dropTable(spark, rest, ident.name) }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported")
}
