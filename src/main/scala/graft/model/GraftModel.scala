package graft.model

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.Serialization
import org.json4s.jackson.Serialization.{read, write}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.collection.concurrent.TrieMap

/** File-system-as-database metastore (SURVEY.md §1.3). Works over any Hadoop
  * `FileSystem` (local / HDFS / blob), so the metadata layer scales to a real
  * cluster exactly like the reference's `LightningHdfsModel`
  * (reference: model/LightningHdfsModel.scala:43-489, model/HdfsFileSystem.scala:29-209).
  *
  * Layout under the warehouse dir:
  * {{{
  * <warehouse>/datasource/...                root namespace
  * <warehouse>/metastore/...
  * <ns-path>/.properties                     namespace metadata JSON
  * <ns-path>/<name>_ds.json                  non-file data source
  * <ns-path>/<name>_fs.json                  file-type data source
  * <ns-path>/<name>_table.json               registered source table
  * <ns-path>/<name>_usl.json                 compiled USL
  * <ns-path>/.<usl>/<table>_activation_query.json
  * }}}
  */
class GraftModel(val warehouse: String, hadoopConf: Configuration = new Configuration()) {
  import GraftModel._

  private val root = new Path(warehouse)
  private val fs: FileSystem = root.getFileSystem(hadoopConf)

  Roots.foreach(r => fs.mkdirs(new Path(root, r)))

  private def nsPath(ns: Seq[String]): Path =
    ns.foldLeft(root)((p, n) => new Path(p, n))

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readString(p: Path): String = {
    val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      val sb = new StringBuilder
      var line = in.readLine()
      while (line != null) { sb.append(line).append('\n'); line = in.readLine() }
      sb.toString
    } finally in.close()
  }

  // ---- namespaces ----

  def createNamespace(ns: Seq[String], properties: Map[String, String] = Map.empty): Unit = {
    requireUnderRoot(ns)
    val p = nsPath(ns)
    fs.mkdirs(p)
    if (properties.nonEmpty) writeString(new Path(p, ".properties"), write(properties))
  }

  def namespaceExists(ns: Seq[String]): Boolean = fs.exists(nsPath(ns)) && fs.getFileStatus(nsPath(ns)).isDirectory

  def namespaceProperties(ns: Seq[String]): Map[String, String] = {
    val p = new Path(nsPath(ns), ".properties")
    if (fs.exists(p)) read[Map[String, String]](readString(p)) else Map.empty
  }

  def dropNamespace(ns: Seq[String]): Boolean = {
    requireUnderRoot(ns)
    require(ns.size > 1, s"cannot drop root namespace ${ns.mkString(".")}")
    fs.delete(nsPath(ns), true)
  }

  /** Child namespaces = subdirectories that are not USL activation dirs. */
  def listNamespaces(ns: Seq[String]): Seq[Seq[String]] = {
    val p = nsPath(ns)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map(st => ns :+ st.getPath.getName)
      .sortBy(_.mkString("."))
  }

  // ---- data sources ----

  def saveDataSource(spec: DataSourceSpec): String = {
    requireUnderRoot(spec.namespace)
    createNamespace(spec.namespace)
    val suffix = if (isFileLike(spec)) FsSuffix else DsSuffix
    val p = new Path(nsPath(spec.namespace), s"${spec.name}$suffix")
    if (fs.exists(p) && !spec.replace)
      throw new IllegalStateException(s"datasource ${spec.fqn.mkString(".")} already exists (use OR REPLACE)")
    writeString(p, write(spec))
    p.toString
  }

  def loadDataSource(ns: Seq[String], name: String): Option[DataSourceSpec] =
    Seq(DsSuffix, FsSuffix).iterator
      .map(sfx => new Path(nsPath(ns), s"$name$sfx"))
      .find(fs.exists)
      .map(p => read[DataSourceSpec](readString(p)))

  /** Walk the namespace prefix from the leaf upward looking for the nearest
    * registered data source (reference: AbstractLightningCatalog.scala:70-92).
    * Returns the source spec plus the remaining namespace below it.
    */
  def findParentDataSource(ns: Seq[String]): Option[(DataSourceSpec, Seq[String])] = {
    var i = ns.size
    while (i >= 2) {
      val (prefix, rest) = ns.splitAt(i)
      loadDataSource(prefix.dropRight(1), prefix.last) match {
        case Some(ds) => return Some((ds, rest))
        case None => i -= 1
      }
    }
    None
  }

  // ---- registered (ingested) tables ----

  def saveTable(spec: RegisteredTableSpec): Unit = {
    createNamespace(spec.namespace)
    writeString(new Path(nsPath(spec.namespace), s"${spec.name}$TableSuffix"), write(spec))
  }

  def loadRegisteredTable(ns: Seq[String], name: String): Option[RegisteredTableSpec] = {
    val p = new Path(nsPath(ns), s"$name$TableSuffix")
    if (fs.exists(p)) Some(read[RegisteredTableSpec](readString(p))) else None
  }

  // ---- USL ----

  def saveUsl(spec: UslSpec): Unit = {
    createNamespace(spec.namespace)
    writeString(new Path(nsPath(spec.namespace), s"${spec.name}$UslSuffix"), write(spec))
  }

  def loadUsl(ns: Seq[String], name: String): Option[UslSpec] = {
    val p = new Path(nsPath(ns), s"$name$UslSuffix")
    if (!fs.exists(p)) None
    else {
      val usl = read[UslSpec](readString(p))
      // merge activation queries (reference: LightningHdfsModel.scala:405-419)
      Some(usl.copy(tables = usl.tables.map { tb =>
        tb.copy(activateQuery = loadActivation(ns, name, tb.name).map(_.query))
      }))
    }
  }

  def removeUsl(ns: Seq[String], name: String): Boolean = {
    val dir = new Path(nsPath(ns), s".$name")
    if (fs.exists(dir)) fs.delete(dir, true)
    val p = new Path(nsPath(ns), s"$name$UslSuffix")
    fs.exists(p) && fs.delete(p, false)
  }

  def saveActivation(ns: Seq[String], usl: String, spec: ActivationSpec): Unit = {
    val dir = new Path(nsPath(ns), s".$usl")
    fs.mkdirs(dir)
    writeString(new Path(dir, s"${spec.table}$ActivationSuffix"), write(spec))
  }

  def loadActivation(ns: Seq[String], usl: String, table: String): Option[ActivationSpec] = {
    val p = new Path(new Path(nsPath(ns), s".$usl"), s"$table$ActivationSuffix")
    if (fs.exists(p)) Some(read[ActivationSpec](readString(p))) else None
  }

  /** Find the USL (if any) a `ns.table` identifier belongs to: the last
    * namespace element may be a USL name.
    */
  def findUslFor(ns: Seq[String]): Option[UslSpec] =
    if (ns.size < 2) None else loadUsl(ns.dropRight(1), ns.last)

  // ---- listing ----

  /** Tables visible in a namespace: registered `_table.json`, file/ds sources'
    * tables are resolved lazily by the catalog; USL names are namespaces here.
    * (reference: LightningHdfsModel.scala:176-208)
    */
  def listRegisteredTables(ns: Seq[String]): Seq[String] = {
    val p = nsPath(ns)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName).collect {
      case n if n.endsWith(TableSuffix) => n.dropRight(TableSuffix.length)
    }.sorted
  }

  def listUsls(ns: Seq[String]): Seq[String] = {
    val p = nsPath(ns)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName).collect {
      case n if n.endsWith(UslSuffix) => n.dropRight(UslSuffix.length)
    }.sorted
  }

  private def isFileLike(spec: DataSourceSpec): Boolean =
    SourceType.fileTypes.contains(spec.typ) || SourceType.unstructuredTypes.contains(spec.typ)

  private def requireUnderRoot(ns: Seq[String]): Unit =
    require(ns.nonEmpty && Roots.contains(ns.head),
      s"namespace must start with one of ${Roots.mkString("/")}, got: ${ns.mkString(".")}")
}

object GraftModel {
  /** The two hard-coded root namespaces (reference: AbstractLightningCatalog.scala:152-159). */
  val DataSourceRoot = "datasource"
  val MetastoreRoot = "metastore"
  val Roots: Seq[String] = Seq(DataSourceRoot, MetastoreRoot)

  val DsSuffix = "_ds.json"
  val FsSuffix = "_fs.json"
  val TableSuffix = "_table.json"
  val UslSuffix = "_usl.json"
  val ActivationSuffix = "_activation_query.json"

  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  /** Process-wide cache keyed by warehouse path, resettable for tests
    * (reference keeps a singleton cache, LightningModelFactory.scala:31-53).
    */
  private val cache = TrieMap.empty[String, GraftModel]
  def apply(warehouse: String): GraftModel = cache.getOrElseUpdate(warehouse, new GraftModel(warehouse))
  def reset(): Unit = cache.clear()
}
