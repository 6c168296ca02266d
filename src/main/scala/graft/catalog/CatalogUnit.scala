package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog}
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileTable
import org.apache.spark.sql.execution.datasources.v2.csv.CSVTable
import org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog
import org.apache.spark.sql.execution.datasources.v2.json.JsonTable
import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.fs.Path

import graft.model.{DataSourceSpec, SourceType}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Per-source-type table resolution, delegating to Spark's own DSv2 tables
  * (reference: catalog/CatalogUnit.scala:53-152, catalog/FileCatalogUnit.scala:53-164,
  * catalog/JDBCDataSourceCatalogUnit.scala:36-180). We never re-implement IO:
  * a JDBC table is Spark's JDBC table (remote filter/limit/agg pushdown for
  * free), a parquet table is Spark's ParquetTable (vectorized reader, filter
  * pushdown, partition pruning for free).
  */
trait CatalogUnit {
  def loadTable(spark: SparkSession, rest: Seq[String], name: String,
      schemaOverride: Option[StructType]): Table
  def listTables(spark: SparkSession, rest: Seq[String]): Seq[String]
  def listNamespaces(spark: SparkSession, rest: Seq[String]): Seq[Seq[String]] = Nil

  /** CREATE TABLE routed from the catalog; lake-lite units override (JDBC
    * has its own TableCatalog path; file datasources keep the reference's
    * reject, FileCatalogUnit.scala:151-154).
    */
  def createTable(spark: SparkSession, rest: Seq[String], name: String,
      schema: StructType, partitionCols: Seq[String],
      properties: Map[String, String] = Map.empty): Table =
    throw new UnsupportedOperationException(
      s"CREATE TABLE not supported for this datasource type")

  /** ALTER TABLE routed from the catalog; lake-lite units override. */
  def alterTable(spark: SparkSession, rest: Seq[String], name: String,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange]): Table =
    throw new UnsupportedOperationException(
      s"ALTER TABLE not supported for this datasource type")
}

object CatalogUnit {
  def apply(ds: DataSourceSpec): CatalogUnit = ds.typ match {
    case SourceType.JDBC => new JdbcCatalogUnit(ds)
    case t if SourceType.fileTypes.contains(t) => new FileCatalogUnit(ds)
    case t if SourceType.unstructuredTypes.contains(t) =>
      new graft.sources.unstructured.UnstructuredCatalogUnit(ds)
    // `catalog_impl` (Iceberg's own `catalog-impl` spelling also accepted)
    // overrides the TableCatalog adapter class — the standard lever for
    // custom adapters (Nessie wrappers etc.), and what lets conformance
    // tests drive the reflective plumbing against an in-process fake.
    // Resolution order: explicit catalog_impl > runtime jar present (full
    // feature set: writes, deletes, maintenance) > lite native reader
    // (graft.sources.lake — reads the public table formats directly) > the
    // reflective unit's clear jar-missing error when neither a path nor a
    // jar is available.
    case SourceType.ICEBERG =>
      val default = "org.apache.iceberg.spark.SparkCatalog"
      val hasPath = ds.options.contains("warehouse") || ds.options.contains("path")
      if (hasImpl(ds) || classPresent(default) || !hasPath)
        new ReflectiveCatalogUnit(ds, ReflectiveCatalogUnit.implClass(ds, default))
      else new graft.sources.lake.IcebergLiteCatalogUnit(ds)
    case SourceType.DELTA =>
      val default = "org.apache.spark.sql.delta.catalog.DeltaCatalog"
      val hasPath = ds.options.contains("path") || ds.options.contains("warehouse")
      if (hasImpl(ds) || classPresent(default) || !hasPath)
        new ReflectiveCatalogUnit(ds, ReflectiveCatalogUnit.implClass(ds, default))
      else new graft.sources.lake.DeltaLiteCatalogUnit(ds)
    case t => throw new UnsupportedOperationException(
      s"source type $t is registered but has no catalog unit (matches reference behavior " +
        "for REST/XML, execution/command/DataSourceType.scala:26-73; AUDIO is an " +
        "unstructured scan here, beyond the reference's runtime-reject)")
  }

  private def hasImpl(ds: DataSourceSpec): Boolean =
    ds.options.contains("catalog_impl") || ds.options.contains("catalog-impl")

  // a lake runtime jar is deployed or not for the life of the JVM: probe each
  // class name once instead of throwing ClassNotFoundException per resolution
  private val classPresence = new ConcurrentHashMap[String, java.lang.Boolean]()

  private def classPresent(name: String): Boolean =
    classPresence.computeIfAbsent(name, n => java.lang.Boolean.valueOf(
      try { Class.forName(n); true } catch { case _: Throwable => false }))
}

/** Parquet/ORC/CSV/JSON/Avro directories. A registered path is a directory of
  * tables: table `t` resolves to `<path>/t`, `<path>/t.<ext>`, or — when the
  * datasource name itself is queried — `<path>` (single-table source).
  */
final class FileCatalogUnit(ds: DataSourceSpec) extends CatalogUnit {
  private val format = ds.sourceType.toLowerCase
  private val basePath = ds.options.getOrElse("path",
    throw new IllegalArgumentException(s"file datasource ${ds.name} needs a path option"))

  private def candidatePaths(name: String): Seq[String] =
    Seq(s"$basePath/$name.$format", s"$basePath/$name.parquet", s"$basePath/$name") ++
      (if (name == ds.name) Seq(basePath) else Nil)

  private def resolvePath(spark: SparkSession, name: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    candidatePaths(name).find { p =>
      val hp = new Path(p)
      hp.getFileSystem(conf).exists(hp)
    }.getOrElse(throw new NoSuchElementException(
      s"table $name not found under $basePath (tried ${candidatePaths(name).mkString(", ")})"))
  }

  override def loadTable(spark: SparkSession, rest: Seq[String], name: String,
      schemaOverride: Option[StructType]): Table = {
    val path = resolvePath(spark, name)
    val opts = new CaseInsensitiveStringMap((ds.options ++ Map("path" -> path)).asJava)
    val paths = Seq(path)
    def footerTable(schema: Option[StructType]): FileTable =
      if (format == "parquet") ParquetTable(name, spark, opts, paths, schema, classOf[ParquetFileFormat])
      else OrcTable(name, spark, opts, paths, schema, classOf[OrcFileFormat])
    format match {
      case "parquet" | "orc" if schemaOverride.isEmpty =>
        FileCatalogUnit.withInferredSchema(spark, format, path, ds.options)(footerTable)
      case "parquet" | "orc" => footerTable(schemaOverride)
      case "csv" => CSVTable(name, spark, opts, paths, schemaOverride, classOf[CSVFileFormat])
      case "json" => JsonTable(name, spark, opts, paths, schemaOverride, classOf[JsonFileFormat])
      case "avro" =>
        // the spark-avro optional module when deployed; otherwise the
        // AvroLite native reader on the avro core jar Spark always ships
        try ReflectiveCatalogUnit.fileTable("org.apache.spark.sql.v2.avro.AvroTable",
          "org.apache.spark.sql.avro.AvroFileFormat", name, spark, opts, paths, schemaOverride)
        catch {
          case _: UnsupportedOperationException =>
            import graft.sources.lake.AvroLite
            val conf = spark.sparkContext.hadoopConfiguration
            val hp = new Path(path)
            val inferred = AvroLite.toStruct(AvroLite.readAvroSchema(conf,
              AvroLite.listAvroFiles(conf, hp).headOption.map(_._1).getOrElse(hp)))
            new graft.sources.DataFrameV1Table(name, schemaOverride.getOrElse(inferred),
              s => AvroLite.read(s, Seq(hp)))
        }
      case other => throw new UnsupportedOperationException(s"file format $other")
    }
  }

  override def listTables(spark: SparkSession, rest: Seq[String]): Seq[String] = {
    val hp = new Path(basePath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) Nil
    else fs.listStatus(hp).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("_"))
      .map(n => if (n.contains('.')) n.substring(0, n.lastIndexOf('.')) else n)
      .distinct.sorted
  }
}

object FileCatalogUnit {
  /** One inference: the table's leaf files as (path, length, modification
    * time), sorted by path, and the schema Spark inferred from them.
    */
  private final case class Inferred(files: Seq[(String, Long, Long)], schema: StructType)

  /** (format, resolved path, datasource options, inference confs). */
  private type Key = (String, String, Map[String, String], Map[String, String])

  // One entry per distinct table (and conf variant); a changed file set
  // replaces its entry rather than adding one.
  private val inferred = new ConcurrentHashMap[Key, Inferred]()

  // SQL confs that parquet/ORC schema inference and partition discovery
  // read (timestamp flavour, nanos-as-long, binary-as-string, schema merge,
  // corrupt/missing-file skipping, partition column typing, case folding).
  private val InferencePrefixes = Seq("spark.sql.parquet.", "spark.sql.orc.",
    "spark.sql.legacy.parquet.", "spark.sql.legacy.orc.", "spark.sql.files.ignore",
    "spark.sql.sources.partition")
  private val InferenceKeys = Set("spark.sql.caseSensitive", "spark.sql.timestampType")

  private def inferenceConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      InferenceKeys.contains(k) || InferencePrefixes.exists(k.startsWith)
    }

  private def fingerprint(t: FileTable): Seq[(String, Long, Long)] =
    t.fileIndex.allFiles()
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sortBy(_._1)

  /** Parquet/ORC inference runs a footer read (a Spark job for parquet) on
    * every fresh table. Reuse the last inferred schema while the table's
    * leaf files are unchanged. On a hit the fingerprint comes from the
    * returned table's own file index, which its scan lists anyway, so a hit
    * lists once, like a table that infers. A miss lists twice: once to
    * infer, once in the returned table, which carries the schema like every
    * later hit so that equal reads resolve to equal tables (cached plans
    * match).
    */
  def withInferredSchema(spark: SparkSession, format: String, path: String,
      options: Map[String, String])(table: Option[StructType] => FileTable): FileTable = {
    val key = (format, path, options, inferenceConf(spark))
    Option(inferred.get(key)).flatMap { hit =>
      val t = table(Some(hit.schema))
      if (fingerprint(t) == hit.files) Some(t) else None
    }.getOrElse {
      val t = table(None)
      val files = fingerprint(t)
      // an inference failure is left for analysis to raise, as before
      Try(t.schema).fold(_ => t, { s =>
        inferred.put(key, Inferred(files, s))
        table(Some(s))
      })
    }
  }
}

/** JDBC endpoints via Spark's own JDBCTableCatalog, constructed per call like
  * the reference (JDBCDataSourceCatalogUnit.scala:43-61). Gets remote
  * pushdown (filters, required columns, and on 4.x aggregates/limits) free.
  *
  * Two-level stores (Snowflake/Redshift expose database.schema.table, not
  * just schema.table) route through [[TwoLevelJdbc]] instead: the namespace
  * walk reads DatabaseMetaData and table loads qualify "db"."schema"."t"
  * directly (reference: JDBCDataSourceCatalogUnit.scala:63-148,
  * SnowflakeJDBCTableCatalog.scala:43-77).
  */
class JdbcCatalogUnit(ds: DataSourceSpec) extends CatalogUnit {
  private val url = ds.options.getOrElse("url", "")
  private def twoLevel: Boolean = TwoLevelJdbc.isTwoLevel(url)
  // overridable for tests (a fake store stands in for a live warehouse)
  protected def store: TwoLevelSchemaStore = new MetaDataSchemaStore(ds.options)

  private def delegate(): JDBCTableCatalog = {
    val cat = new JDBCTableCatalog()
    cat.initialize(ds.name, new CaseInsensitiveStringMap(ds.options.asJava))
    cat
  }

  override def loadTable(spark: SparkSession, rest: Seq[String], name: String,
      schemaOverride: Option[StructType]): Table =
    if (twoLevel) {
      val fqn = TwoLevelJdbc.qualifiedName(url, rest :+ name)
      val schema = org.apache.spark.sql.jdbc.GraftJdbcBridge
        .resolveTableSchema(ds.options, fqn)
      org.apache.spark.sql.jdbc.GraftJdbcBridge
        .table(Identifier.of(rest.toArray, name), schema, ds.options, fqn)
    } else delegate().loadTable(Identifier.of(rest.toArray, name))

  override def listTables(spark: SparkSession, rest: Seq[String]): Seq[String] =
    if (twoLevel) TwoLevelJdbc.listTables(store, TwoLevelJdbc.normalize(url, rest))
    else delegate().listTables(rest.toArray).map(_.name).toSeq.sorted

  override def listNamespaces(spark: SparkSession, rest: Seq[String]): Seq[Seq[String]] =
    if (twoLevel) TwoLevelJdbc.listNamespaces(store, TwoLevelJdbc.normalize(url, rest))
    else delegate().listNamespaces(rest.toArray).map(_.toSeq).toSeq

  def tableCatalog: TableCatalog = delegate()
}

/** Iceberg/Delta (and avro file tables): reflective so the unit lights up
  * when the jar is present and raises a clear error offline
  * (reference: v3.5/.../IcebergCatalogUnit.scala:30-42).
  */
final class ReflectiveCatalogUnit(ds: DataSourceSpec, catalogClass: String) extends CatalogUnit {
  private def delegate(): TableCatalog = {
    val cls = try Class.forName(catalogClass) catch {
      case _: ClassNotFoundException => throw new UnsupportedOperationException(
        s"${ds.sourceType} support requires $catalogClass on the classpath " +
          s"(jar not present in this deployment)")
    }
    val cat = cls.getDeclaredConstructor().newInstance().asInstanceOf[TableCatalog]
    cat.initialize(ds.name, new CaseInsensitiveStringMap(ds.options.asJava))
    cat
  }
  override def loadTable(spark: SparkSession, rest: Seq[String], name: String,
      schemaOverride: Option[StructType]): Table =
    delegate().loadTable(Identifier.of(rest.toArray, name))
  override def listTables(spark: SparkSession, rest: Seq[String]): Seq[String] =
    delegate().listTables(rest.toArray).map(_.name).toSeq.sorted

  def loadTableVersion(spark: SparkSession, ident: Identifier, version: String): Table =
    delegate().loadTable(ident, version)
  def loadTableTimestamp(spark: SparkSession, ident: Identifier, timestamp: Long): Table =
    delegate().loadTable(ident, timestamp)
}

object ReflectiveCatalogUnit {
  def implClass(ds: DataSourceSpec, default: String): String =
    ds.options.get("catalog-impl").orElse(ds.options.get("catalog_impl")).getOrElse(default)

  def fileTable(tableClass: String, formatClass: String, name: String,
      spark: SparkSession, opts: CaseInsensitiveStringMap, paths: Seq[String],
      schema: Option[StructType]): Table = {
    val cls = try Class.forName(tableClass) catch {
      case _: ClassNotFoundException => throw new UnsupportedOperationException(
        s"$tableClass not on classpath (optional module)")
    }
    val fmt = Class.forName(formatClass).asInstanceOf[Class[_ <: FileFormat]]
    cls.getConstructors.head.newInstance(name, spark, opts, paths, schema, fmt)
      .asInstanceOf[Table]
  }
}
