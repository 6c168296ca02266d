package graft.catalog

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** In-process stand-in for the reflective Iceberg/Delta `TableCatalog`
  * adapters: implements the exact contract `ReflectiveCatalogUnit` drives via
  * `Class.forName` — a no-arg constructor, `initialize(name, options)`,
  * `loadTable` (current, VERSION AS OF, TIMESTAMP AS OF), `listTables`,
  * `createTable`, `dropTable` — with readable in-memory tables, so the
  * reflective plumbing and the time-travel routing EXECUTE under `sbt test`
  * instead of only raising offline jar-missing errors.
  *
  * The "lake" exposes one two-column table `t` (id bigint, tag string) in
  * every namespace; the tag records which load path produced the rows, so a
  * SELECT through the graft catalog can assert the exact overload that ran,
  * and [[FakeLakeCatalog.loads]] records the namespace each load was given.
  */
class FakeLakeCatalog extends TableCatalog {
  private var catalogName: String = _
  private var opts: CaseInsensitiveStringMap = _
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, FakeLakeTable]()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    opts = options
    FakeLakeCatalog.lastInit = Some((name, options.asScala.toMap))
    tables.put("t", new FakeLakeTable("t"))
  }
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keySet().asScala.toArray.sorted.map(n => Identifier.of(namespace, n))

  private def load(ident: Identifier, kind: String, tag: String): Table = {
    FakeLakeCatalog.loads.add((kind, ident.namespace().toSeq))
    Option(tables.get(ident.name)).map(_.at(tag))
      .getOrElse(throw new NoSuchTableException((ident.namespace().toSeq :+ ident.name())))
  }

  override def loadTable(ident: Identifier): Table = load(ident, "current", "current")

  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, "version", s"version=$version")

  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, "timestamp", s"timestamp=$timestamp")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tables.containsKey(ident.name))
      throw new IllegalArgumentException(s"table ${ident.name} already exists")
    val t = new FakeLakeTable(ident.name)
    tables.put(ident.name, t)
    t
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("fake lake: alterTable")

  override def dropTable(ident: Identifier): Boolean = tables.remove(ident.name) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new NoSuchNamespaceException(oldIdent.namespace())
}

object FakeLakeCatalog {
  @volatile var lastInit: Option[(String, Map[String, String])] = None
  /** Every load as (current | version | timestamp, the identifier's namespace). */
  val loads = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
}

/** A readable DSv2 table: 3 rows of (id, tag) where `tag` is the load-path
  * marker ("current" / "version=..." / "timestamp=...").
  */
class FakeLakeTable(tableName: String, tag: String = "current") extends Table with SupportsRead {
  def at(newTag: String): FakeLakeTable = new FakeLakeTable(tableName, newTag)

  override def name(): String = tableName
  override def schema(): StructType =
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema()
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            Array(FakeLakePartition(tag))
          override def createReaderFactory(): PartitionReaderFactory =
            new FakeLakeReaderFactory
        }
      }
    }
}

case class FakeLakePartition(tag: String) extends InputPartition

class FakeLakeReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val tag = partition.asInstanceOf[FakeLakePartition].tag
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < 3 }
      override def get(): InternalRow =
        InternalRow(i.toLong, UTF8String.fromString(tag))
      override def close(): Unit = ()
    }
  }
}
