package graft.model

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.json4s._
import org.json4s.jackson.Serialization
import org.json4s.jackson.Serialization.{read, write}

import java.io.{BufferedReader, FileNotFoundException, InputStreamReader}
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

  private def bytes(spec: AnyRef): Array[Byte] = write(spec).getBytes(StandardCharsets.UTF_8)

  /** Every spec write replaces the file whole ([[AtomicFile.replace]]). */
  private def writeSpec(p: Path, spec: AnyRef): Unit = AtomicFile.replace(fs, p, bytes(spec))

  /** Every spec read: the spec at `p`, or None when no file is there. */
  private def readSpec[T: Manifest](p: Path): Option[T] =
    try Some(read[T](readString(p))) catch { case _: FileNotFoundException => None }

  /** A namespace's entries; none when it does not exist. */
  private def entries(ns: Seq[String]): Seq[FileStatus] =
    try fs.listStatus(nsPath(ns)).toSeq catch { case _: FileNotFoundException => Nil }

  private def specNames(ns: Seq[String], suffix: String): Seq[String] =
    entries(ns).filter(_.isFile).map(_.getPath.getName).collect {
      case n if n.endsWith(suffix) => n.dropRight(suffix.length)
    }.sorted

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
    if (properties.nonEmpty) writeSpec(new Path(p, ".properties"), properties)
  }

  def namespaceExists(ns: Seq[String]): Boolean =
    try fs.getFileStatus(nsPath(ns)).isDirectory catch { case _: FileNotFoundException => false }

  def namespaceProperties(ns: Seq[String]): Map[String, String] =
    readSpec[Map[String, String]](new Path(nsPath(ns), ".properties")).getOrElse(Map.empty)

  def dropNamespace(ns: Seq[String]): Boolean = {
    requireUnderRoot(ns)
    require(ns.size > 1, s"cannot drop root namespace ${ns.mkString(".")}")
    fs.delete(nsPath(ns), true)
  }

  /** Child namespaces = subdirectories that are not USL activation dirs. */
  def listNamespaces(ns: Seq[String]): Seq[Seq[String]] =
    entries(ns)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map(st => ns :+ st.getPath.getName)
      .sortBy(_.mkString("."))

  // ---- data sources ----

  /** Without OR REPLACE the name is claimed create-exclusive, so of two
    * concurrent REGISTERs of one name exactly one succeeds.
    */
  def saveDataSource(spec: DataSourceSpec): String = {
    requireUnderRoot(spec.namespace)
    createNamespace(spec.namespace)
    val suffix = if (isFileLike(spec)) FsSuffix else DsSuffix
    val p = new Path(nsPath(spec.namespace), s"${spec.name}$suffix")
    if (spec.replace) writeSpec(p, spec)
    else if (!AtomicFile.atomicCreate(fs, p, bytes(spec)))
      throw new IllegalStateException(s"datasource ${spec.fqn.mkString(".")} already exists (use OR REPLACE)")
    p.toString
  }

  def loadDataSource(ns: Seq[String], name: String): Option[DataSourceSpec] =
    Seq(DsSuffix, FsSuffix).iterator
      .flatMap(sfx => readSpec[DataSourceSpec](new Path(nsPath(ns), s"$name$sfx")))
      .nextOption()

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
    writeSpec(new Path(nsPath(spec.namespace), s"${spec.name}$TableSuffix"), spec)
  }

  def loadRegisteredTable(ns: Seq[String], name: String): Option[RegisteredTableSpec] =
    readSpec[RegisteredTableSpec](new Path(nsPath(ns), s"$name$TableSuffix"))

  // ---- USL ----

  def saveUsl(spec: UslSpec): Unit = {
    createNamespace(spec.namespace)
    writeSpec(new Path(nsPath(spec.namespace), s"${spec.name}$UslSuffix"), spec)
  }

  def loadUsl(ns: Seq[String], name: String): Option[UslSpec] =
    readSpec[UslSpec](new Path(nsPath(ns), s"$name$UslSuffix")).map { usl =>
      // merge activation queries (reference: LightningHdfsModel.scala:405-419)
      usl.copy(tables = usl.tables.map { tb =>
        tb.copy(activateQuery = loadActivation(ns, name, tb.name).map(_.query))
      })
    }

  def removeUsl(ns: Seq[String], name: String): Boolean = {
    fs.delete(new Path(nsPath(ns), s".$name"), true)
    fs.delete(new Path(nsPath(ns), s"$name$UslSuffix"), false)
  }

  def saveActivation(ns: Seq[String], usl: String, spec: ActivationSpec): Unit = {
    val dir = new Path(nsPath(ns), s".$usl")
    fs.mkdirs(dir)
    writeSpec(new Path(dir, s"${spec.table}$ActivationSuffix"), spec)
  }

  def loadActivation(ns: Seq[String], usl: String, table: String): Option[ActivationSpec] =
    readSpec[ActivationSpec](new Path(new Path(nsPath(ns), s".$usl"), s"$table$ActivationSuffix"))

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
  def listRegisteredTables(ns: Seq[String]): Seq[String] = specNames(ns, TableSuffix)

  def listUsls(ns: Seq[String]): Seq[String] = specNames(ns, UslSuffix)

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
