package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{GraftModel, SourceType}
import graft.sources.usl.UslTable

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** The `graft` plugin catalog: a DSv2 TableCatalog + SupportsNamespaces that
  * federates JDBC / file / unstructured / USL tables registered by DDL
  * (reference: catalog/AbstractLightningCatalog.scala:47-360).
  *
  * Two hard-coded root namespaces: `datasource` and `metastore`
  * (reference: AbstractLightningCatalog.scala:152-159). Table resolution
  * walks the identifier's namespace up to the nearest registered datasource
  * (`findParentDataSource`) and delegates to its [[CatalogUnit]]; metastore
  * identifiers resolve registered table snapshots (schema override, no
  * re-inference) and activated USL tables.
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

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    GraftModel.Roots.map(r => Array(r)).toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    val own = model.listNamespaces(ns.toSeq).map(_.toArray)
    // a registered JDBC source's remote schemas surface as child namespaces
    val delegated = model.findParentDataSource(ns.toSeq) match {
      case Some((ds, rest)) if ds.typ == SourceType.JDBC =>
        CatalogUnit(ds) match {
          case j: JdbcCatalogUnit =>
            j.listNamespaces(spark, rest).map(child => ns ++ child.drop(rest.size))
          case _ => Nil
        }
      case _ => Nil
    }
    (own ++ delegated).map(_.toArray[String]).distinct.toArray
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    model.namespaceExists(ns.toSeq) || model.findParentDataSource(ns.toSeq).isDefined

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
    val fromSource = model.findParentDataSource(nsSeq) match {
      case Some((ds, rest)) => CatalogUnit(ds).listTables(spark, rest)
      case None => Nil
    }
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
      val srcNs = reg.sourceFqn.dropRight(1)
      val srcName = reg.sourceFqn.last
      model.findParentDataSource(srcNs :+ srcName) match {
        case Some((ds, rest)) =>
          return CatalogUnit(ds).loadTable(spark, rest.dropRight(1), srcName, Some(reg.schema))
        case None =>
          throw new NoSuchTableException((ns :+ name).toSeq)
      }
    }

    // 2. USL virtual table (namespace tail = USL name)
    model.findUslFor(ns).foreach { usl =>
      usl.tables.find(_.name.equalsIgnoreCase(name)).foreach { spec =>
        return UslTable((ns :+ name).mkString("."), spec)
      }
    }

    // 3. datasource-routed table
    model.findParentDataSource(ns :+ name) match {
      case Some((ds, rest)) =>
        // `rest` still carries the table name; the unit gets namespace-below-source
        CatalogUnit(ds).loadTable(spark, rest.dropRight(1), name, None)
      case None =>
        throw new NoSuchTableException((ns :+ name).toSeq)
    }
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val ns = ident.namespace.toSeq
    model.findParentDataSource(ns :+ ident.name) match {
      case Some((ds, rest)) if ds.typ == SourceType.JDBC =>
        CatalogUnit(ds) match {
          case j: JdbcCatalogUnit =>
            j.tableCatalog.createTable(
              Identifier.of(rest.dropRight(1).toArray, ident.name),
              new org.apache.spark.sql.connector.catalog.TableInfo.Builder()
                .withColumns(columns).withPartitions(partitions)
                .withProperties(properties).build())
          case _ => throw new UnsupportedOperationException("createTable")
        }
      case Some((ds, rest)) =>
        CatalogUnit(ds) match {
          case u @ (_: graft.sources.lake.DeltaLiteCatalogUnit |
                    _: graft.sources.lake.IcebergLiteCatalogUnit) =>
            // identity transforms only — the lite writers' documented subset
            val partCols = partitions.toSeq.map {
              case t if t.name == "identity" && t.references.length == 1 =>
                t.references.head.fieldNames.mkString(".")
              case t => throw new UnsupportedOperationException(
                s"partition transform $t not supported by the native lake writer (identity only)")
            }
            // Spark injects bookkeeping properties (provider, location,
            // owner); pass through only what the user wrote
            val userProps = properties.asScala.toMap -- Seq(
              "provider", "location", "owner", "external", "comment")
            u.createTable(spark, rest.dropRight(1), ident.name,
              org.apache.spark.sql.GraftSQLBridge.v2ColumnsToStructType(columns), partCols,
              userProps)
          case _ => throw new UnsupportedOperationException(
            s"CREATE TABLE not supported for ${ds.sourceType} datasources " +
              "(reference: FileCatalogUnit.scala:151-154)")
        }
      case None => throw new NoSuchNamespaceException(ns.toSeq)
    }
  }

  @deprecated("use the Column-based overload", "")
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    createTable(ident, org.apache.spark.sql.GraftSQLBridge.structTypeToV2Columns(schema), partitions, properties)

  // ---- time travel: VERSION AS OF / TIMESTAMP AS OF routes here; only
  // Iceberg units support it, everything else rejects (reference:
  // AbstractLightningCatalog.scala:338-360, CatalogUnit.scala:91-108,
  // AbstractIcebergCatalogUnit.scala:61-66) ----

  override def loadTable(ident: Identifier, version: String): Table =
    timeTravelUnit(ident) match {
      case (u: ReflectiveCatalogUnit, _) => u.loadTableVersion(spark, ident, version)
      case (u: graft.sources.lake.IcebergLiteCatalogUnit, rest) =>
        u.loadVersion(spark, rest.dropRight(1), ident.name, version)
      case (u, _) => throw new UnsupportedOperationException(s"time travel: $u")
    }

  override def loadTable(ident: Identifier, timestamp: Long): Table =
    timeTravelUnit(ident) match {
      case (u: ReflectiveCatalogUnit, _) => u.loadTableTimestamp(spark, ident, timestamp)
      case (u: graft.sources.lake.IcebergLiteCatalogUnit, rest) =>
        // DSv2 hands micros; the lite reader compares snapshot timestamp-ms
        u.loadTimestamp(spark, rest.dropRight(1), ident.name, Math.floorDiv(timestamp, 1000L))
      case (u, _) => throw new UnsupportedOperationException(s"time travel: $u")
    }

  private def timeTravelUnit(ident: Identifier): (CatalogUnit, Seq[String]) = {
    val ns = ident.namespace.toSeq
    model.findParentDataSource(ns :+ ident.name) match {
      case Some((ds, rest)) if ds.typ == SourceType.ICEBERG => (CatalogUnit(ds), rest)
      case Some((ds, _)) => throw new UnsupportedOperationException(
        s"time travel is not supported for ${ds.sourceType} datasources (Iceberg only)")
      case None => throw new NoSuchTableException((ns :+ ident.name).toSeq)
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ns = ident.namespace.toSeq
    model.findParentDataSource(ns :+ ident.name) match {
      case Some((ds, rest)) if ds.typ == SourceType.JDBC =>
        CatalogUnit(ds) match {
          case j: JdbcCatalogUnit =>
            j.tableCatalog.alterTable(
              Identifier.of(rest.dropRight(1).toArray, ident.name), changes: _*)
          case _ => throw new UnsupportedOperationException("ALTER TABLE")
        }
      case Some((ds, rest)) =>
        CatalogUnit(ds).alterTable(spark, rest.dropRight(1), ident.name, changes.toSeq)
      case None => throw new NoSuchTableException(ns :+ ident.name)
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val ns = ident.namespace.toSeq
    model.findParentDataSource(ns :+ ident.name) match {
      case Some((ds, rest)) if ds.typ == SourceType.JDBC =>
        CatalogUnit(ds) match {
          case j: JdbcCatalogUnit =>
            j.tableCatalog.dropTable(Identifier.of(rest.dropRight(1).toArray, ident.name))
          case _ => false
        }
      case _ => false
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported")
}
