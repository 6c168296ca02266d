package graft.sources.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Column, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}

import graft.catalog.CatalogUnit
import graft.model.DataSourceSpec
import graft.plans.{HasRowLevelHandle, LakeRowLevel}
import graft.sources.DataFrameV1Table

import java.util.{Map => JMap, Set => JSet}
import scala.jdk.CollectionConverters._

/** A lake-lite table that also accepts `INSERT [OVERWRITE]` through the
  * native writers ([[LakeNativeWrite]]) — V1 write bridge, same pattern as
  * the unstructured content sink — and, when a row-level handle is
  * provided, DELETE / UPDATE / MERGE INTO through the copy-on-write
  * commands ([[graft.plans.LakeRowLevelRule]]).
  */
private[lake] class WritableLakeTable(name: String, schema: StructType,
    program: SparkSession => DataFrame,
    insertFn: (DataFrame, Boolean) => Unit,
    override val rowLevelHandle: Option[LakeRowLevel.RowLevelHandle] = None)
  extends DataFrameV1Table(name, schema, program) with SupportsWrite
  with HasRowLevelHandle {

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ovr: Boolean): Unit =
              insertFn(data, overwrite || ovr)
          }
      }
    }
}

private[lake] object LiteCreate {
  /** A CREATE TABLE's schema, partition columns and user properties in the
    * lite writers' terms: identity transforms only (their documented
    * subset), and none of the bookkeeping properties Spark injects
    * (provider, location, owner), only what the user wrote.
    */
  def apply(columns: Array[Column], partitions: Array[Transform],
      properties: JMap[String, String]): (StructType, Seq[String], Map[String, String]) = {
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t => throw new UnsupportedOperationException(
        s"partition transform $t not supported by the native lake writer (identity only)")
    }
    (org.apache.spark.sql.GraftSQLBridge.v2ColumnsToStructType(columns), partCols,
      properties.asScala.toMap -- Seq("provider", "location", "owner", "external", "comment"))
  }
}

/** Catalog units backed by the lite lake readers — chosen by
  * [[graft.catalog.CatalogUnit.apply]] when no `catalog_impl` override is
  * registered and the real runtime jar is absent, so a minimal deployment
  * reads Delta/Iceberg tables natively while a jar-equipped one still gets
  * the full runtime (writes, deletes, maintenance).
  */

/** `path` option = a directory of Delta tables (`<path>/<t>/_delta_log`),
  * or itself a single Delta table addressed by the datasource name.
  */
final class DeltaLiteCatalogUnit(val ds: DataSourceSpec) extends CatalogUnit {
  private val basePath = ds.options.getOrElse("path", ds.options.getOrElse("warehouse",
    throw new IllegalArgumentException(s"DELTA datasource ${ds.name} needs a path option")))

  private def dirFor(spark: SparkSession, rest: Seq[String], name: String): Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    val nested = new Path((Seq(basePath) ++ rest :+ name).mkString("/"))
    val candidates = Seq(nested) ++ (if (name == ds.name && rest.isEmpty) Seq(new Path(basePath)) else Nil)
    candidates.find(DeltaLite.isDeltaTable(conf, _)).getOrElse(
      throw new NoSuchTableException((ds.namespace ++ rest :+ name).toSeq))
  }

  // Change Data Feed surface, mirroring delta-spark's public read options:
  // `readChangeFeed 'true'` (+ optional `startingVersion` / `endingVersion`)
  // on the REGISTER turns every table of this datasource into its change
  // feed — table schema + _change_type/_commit_version/_commit_timestamp.
  private val readChangeFeed =
    ds.options.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))
  private val startingVersion = ds.options.get("startingVersion").map(_.toLong)
  private val endingVersion = ds.options.get("endingVersion").map(_.toLong)

  /** The snapshot is resolved ONCE here and captured by the scan closure:
    * re-replaying the log per scan would both duplicate the driver IO and
    * let a commit racing between load and scan desync the declared schema
    * from the scanned data (the V1 positional cast would then silently
    * misalign columns).
    */
  override def loadTable(spark: SparkSession, rest: Seq[String], name: String,
      schemaOverride: Option[StructType]): Table = {
    if (readChangeFeed) return loadChanges(spark, rest, name)
    val dir = dirFor(spark, rest, name)
    val snap = DeltaLite.snapshot(spark, dir)
    val handle = new LakeRowLevel.RowLevelHandle {
      // the command's read scope, in Delta conflict-check form: the
      // pre-race snapshot supplies per-file partition values + stats for
      // judging winner removes; on column-mapping tables keys carry
      // physical names — the scope resolves them through physSchema
      private def deltaScope(sc: LakeRowLevel.ReadScope): Option[LakeNativeWrite.DeltaReadScope] = {
        val physPartNames = snap.physPartitionSchema.fieldNames
        Some(LakeNativeWrite.DeltaReadScope(
          readWholeTable = sc.readWholeTable,
          predicates = sc.predicates,
          schema = snap.schema,
          partitionCols = snap.partitionColumns,
          readFiles = sc.readFiles,
          snapshotInfo = snap.fileIds.zip(snap.files).map { case (id, f) =>
            id -> (physPartNames.zip(f.partitionValues).collect {
              case (k, v) if v != null => k -> v.toString
            }.toMap, snap.statsJson.get(id))
          }.toMap,
          physSchema = snap.physSchema))
      }
      override def scanWithRowIds(s: SparkSession): DataFrame =
        DeltaLite.toDataFrameWithRowIds(s, snap)
      override def commitRewrite(s: SparkSession, removed: Seq[String],
          replacement: DataFrame, operation: String,
          scope: LakeRowLevel.ReadScope): Unit =
        LakeNativeWrite.deltaRewrite(s, dir, snap, removed, replacement,
          operation = operation, readScope = deltaScope(scope))
      override def wantsChangeRows: Boolean = snap.cdfEnabled
      override def deleteByRowIds: Boolean = snap.configuration
        .get("delta.enableDeletionVectors").exists(_.equalsIgnoreCase("true"))
      override def commitDeleteRows(s: SparkSession, matchedRowIds: DataFrame,
          changeRows: Option[DataFrame], operation: String,
          scope: LakeRowLevel.ReadScope): Unit =
        LakeNativeWrite.deltaDvDelete(s, dir, snap, matchedRowIds, changeRows,
          operation, readScope = deltaScope(scope))
      override def updateByRowIds: Boolean = deleteByRowIds
      override def commitUpdateRows(s: SparkSession, matchedRowIds: DataFrame,
          newRows: DataFrame, changeRows: Option[DataFrame],
          operation: String, scope: LakeRowLevel.ReadScope): Unit =
        LakeNativeWrite.deltaDvUpdate(s, dir, snap, matchedRowIds, newRows, changeRows,
          operation, readScope = deltaScope(scope))
      override def commitRewriteWithChanges(s: SparkSession, removed: Seq[String],
          replacement: DataFrame, changeRows: DataFrame,
          operation: String, scope: LakeRowLevel.ReadScope): Unit =
        LakeNativeWrite.deltaRewrite(s, dir, snap, removed, replacement,
          changeRows = Some(changeRows), operation = operation,
          readScope = deltaScope(scope))
      override def commitCompaction(s: SparkSession, removed: Seq[String],
          replacement: DataFrame): Unit =
        LakeNativeWrite.deltaRewrite(s, dir, snap, removed, replacement,
          dataChange = false, operation = "OPTIMIZE",
          readScope = deltaScope(LakeRowLevel.ReadScope(
            readWholeTable = false, Nil, removed.toSet)))
      override def listFiles(s: SparkSession): Seq[(String, Long, String)] =
        snap.fileIds.zip(snap.files).map { case (id, f) =>
          (id, f.size, f.partitionValues.mkString("/"))
        }
      override def partitionColumns: Seq[String] = snap.partitionColumns
      override def vacuum(s: SparkSession, retain: Int): (Long, Long) =
        LakeNativeWrite.deltaVacuum(s, dir, retain)
      override def vacuumHours(s: SparkSession, hours: Int): (Long, Long) =
        LakeNativeWrite.deltaVacuumHours(s, dir, hours)
      override def history(s: SparkSession): Seq[(Long, Option[Long], Long, String, Option[Long], Option[Long])] =
        DeltaLite.history(s, dir).map { case (v, ts, op, a, r) =>
          (v, None, ts, op, Some(a), Some(r))
        }
      override def checkpoint(s: SparkSession, v2: Boolean = false): (Long, Long) = {
        // v2 checkpoints are a gated table feature: declare it (one
        // protocol+metaData commit, no-op when already declared) before
        // writing a UUID-named checkpoint external readers would
        // otherwise skip
        if (v2) LakeNativeWrite.deltaEnsureV2CheckpointProtocol(s, dir)
        DeltaLite.writeCheckpoint(s, dir, v2)
      }
      override def restore(s: SparkSession, version: Long): (Long, Long) =
        LakeNativeWrite.deltaRestore(s, dir, version)
      override def restoreTimestamp(s: SparkSession, tsMs: Long): (Long, Long) =
        LakeNativeWrite.deltaRestoreToTimestamp(s, dir, tsMs)
      override def describe: String = s"delta table $dir"
    }
    new WritableLakeTable(name, schemaOverride.getOrElse(snap.schema),
      s => DeltaLite.toDataFrame(s, snap),
      (data, overwrite) => LakeNativeWrite.deltaInsert(data.sparkSession, dir, data, overwrite),
      rowLevelHandle = Some(handle))
  }

  /** Native CREATE TABLE (identity partitioning) when the jar is absent.
    * `delta.*` TBLPROPERTIES land in the metaData configuration — the
    * public lever for per-table behavior like `delta.enableChangeDataFeed`.
    */
  override def createTable(spark: SparkSession, rest: Seq[String], name: String,
      columns: Array[Column], partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (schema, partitionCols, userProps) = LiteCreate(columns, partitions, properties)
    val dir = new Path((Seq(basePath) ++ rest :+ name).mkString("/"))
    LakeNativeWrite.deltaCreate(spark, dir, schema, partitionCols,
      userProps.filter(_._1.startsWith("delta.")))
    loadTable(spark, rest, name, None)
  }

  /** ALTER TABLE as a metadata-only commit. Supported: top-level ADD
    * COLUMNS (under column mapping the new field gets a fresh id and a
    * `col-<uuid>` physical name, and `maxColumnId` advances), SET/UNSET
    * TBLPROPERTIES (`delta.*` behavior switches apply from the next
    * commit), and — ONLY when column mapping is enabled — RENAME COLUMN,
    * which pins the field's physical name to its pre-rename spelling
    * first (absent mapping metadata means physical = logical, so an
    * unpinned rename would silently orphan every existing parquet
    * column; without mapping the rename is rejected outright).
    */
  override def alterTable(spark: SparkSession, rest: Seq[String], name: String,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange]): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val dir = dirFor(spark, rest, name)
    LakeNativeWrite.deltaAlter(spark, dir, snap => {
      var schema = snap.schema
      var config = snap.configuration
      val mapping = config.getOrElse("delta.columnMapping.mode", "none") != "none"
      def fieldId(f: StructField): Option[Long] =
        if (f.metadata.contains("delta.columnMapping.id"))
          Some(f.metadata.getLong("delta.columnMapping.id"))
        else None
      changes.foreach {
        case a: TableChange.AddColumn =>
          require(a.fieldNames().length == 1,
            "nested ADD COLUMN is not supported by the native lake writer")
          val n = a.fieldNames()(0)
          require(!schema.fieldNames.contains(n), s"column $n already exists")
          var f = StructField(n, a.dataType(), a.isNullable())
          if (a.comment() != null) f = f.withComment(a.comment())
          if (mapping) {
            val nextId = math.max(
              schema.fields.flatMap(fieldId).maxOption.getOrElse(0L),
              config.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)) + 1
            f = f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("delta.columnMapping.id", nextId)
              .putString("delta.columnMapping.physicalName",
                s"col-${java.util.UUID.randomUUID()}")
              .build())
            config += ("delta.columnMapping.maxColumnId" -> nextId.toString)
          }
          schema = StructType(schema.fields :+ f)
        case r: TableChange.RenameColumn =>
          require(mapping,
            "RENAME COLUMN needs delta.columnMapping.mode = name/id (physical names " +
              "pin the data columns; without mapping a rename would orphan them)")
          require(r.fieldNames().length == 1, "nested RENAME COLUMN is not supported")
          val n = r.fieldNames()(0)
          require(!snap.partitionColumns.contains(n), "cannot rename a partition column")
          require(!schema.fieldNames.contains(r.newName()),
            s"column ${r.newName()} already exists")
          val ix = schema.fieldIndex(n)
          val old = schema.fields(ix)
          val mb = new MetadataBuilder().withMetadata(old.metadata)
          if (!old.metadata.contains("delta.columnMapping.physicalName"))
            mb.putString("delta.columnMapping.physicalName", old.name)
          schema = StructType(schema.fields.updated(ix,
            old.copy(name = r.newName(), metadata = mb.build())))
        case t: TableChange.UpdateColumnType =>
          require(t.fieldNames().length == 1, "nested ALTER COLUMN TYPE is not supported")
          val n = t.fieldNames()(0)
          require(schema.fieldNames.contains(n), s"column $n does not exist")
          require(!snap.partitionColumns.contains(n),
            s"cannot change the type of partition column $n")
          val ix = schema.fieldIndex(n)
          val from = schema.fields(ix).dataType
          def widens(f: org.apache.spark.sql.types.DataType,
              to: org.apache.spark.sql.types.DataType): Boolean = {
            import org.apache.spark.sql.types._
            (f, to) match {
              case (ByteType, ShortType | IntegerType | LongType) => true
              case (ShortType, IntegerType | LongType) => true
              case (IntegerType, LongType) => true
              case (FloatType, DoubleType) => true
              case (fd: DecimalType, td: DecimalType) =>
                td.scale == fd.scale && td.precision >= fd.precision
              case _ => false
            }
          }
          if (from != t.newDataType()) {
            require(widens(from, t.newDataType()),
              s"ALTER COLUMN $n TYPE: only widening promotions are supported " +
                s"(integral ladder, float->double, decimal precision growth); " +
                s"got $from -> ${t.newDataType()}")
            // the protocol's typeWidening feature REQUIRES recording each
            // change in the field's delta.typeChanges metadata — external
            // tooling reads the history (per-file up-conversion decisions,
            // feature-removal validation)
            def deltaTypeName(dt: org.apache.spark.sql.types.DataType): String = {
              import org.apache.spark.sql.types._
              dt match {
                case ByteType => "byte"; case ShortType => "short"
                case IntegerType => "integer"; case LongType => "long"
                case FloatType => "float"; case DoubleType => "double"
                case d: DecimalType => s"decimal(${d.precision},${d.scale})"
                case other => other.typeName
              }
            }
            val old = schema.fields(ix)
            val prior =
              if (old.metadata.contains("delta.typeChanges"))
                old.metadata.getMetadataArray("delta.typeChanges")
              else Array.empty[org.apache.spark.sql.types.Metadata]
            val change = new MetadataBuilder()
              .putString("fromType", deltaTypeName(from))
              .putString("toType", deltaTypeName(t.newDataType()))
              .putLong("tableVersion", snap.version + 1)
              .build()
            val meta = new MetadataBuilder().withMetadata(old.metadata)
              .putMetadataArray("delta.typeChanges", prior :+ change).build()
            schema = StructType(schema.fields.updated(ix,
              old.copy(dataType = t.newDataType(), metadata = meta)))
            // declare the gating table feature so external readers that
            // cannot up-convert narrow physical types reject instead of
            // misreading (impliedFeatures turns this into typeWidening)
            config += ("delta.enableTypeWidening" -> "true")
          }
        case d: TableChange.DeleteColumn =>
          require(mapping,
            "DROP COLUMN needs delta.columnMapping.mode = name/id (the Delta " +
              "protocol's own prerequisite: physical names keep the remaining " +
              "columns resolvable and a later re-add gets a fresh physical name, " +
              "so the dropped column's data never resurfaces)")
          require(d.fieldNames().length == 1, "nested DROP COLUMN is not supported")
          val n = d.fieldNames()(0)
          require(!snap.partitionColumns.contains(n), "cannot drop a partition column")
          require(schema.fieldNames.contains(n), s"column $n does not exist")
          require(schema.fields.length > 1, "cannot drop the last column")
          schema = StructType(schema.fields.filterNot(_.name == n))
        case sp: TableChange.SetProperty => config += (sp.property() -> sp.value())
        case rp: TableChange.RemoveProperty => config -= rp.property()
        case other => throw new UnsupportedOperationException(
          s"ALTER TABLE change $other is not supported by the native lake writer")
      }
      (schema, config)
    })
    loadTable(spark, rest, name, None)
  }

  /** Table-changes read ([[DeltaLite.changes]]); the version range pins at
    * load time (endingVersion, or the latest commit then) so concurrent
    * commits between load and scan cannot shift the feed under the query.
    */
  def loadChanges(spark: SparkSession, rest: Seq[String], name: String): Table = {
    val dir = dirFor(spark, rest, name)
    val from = startingVersion.getOrElse(0L)
    val resolvedTo = endingVersion.orElse(Some(DeltaLite.latestVersion(spark, dir)))
    val df = DeltaLite.changes(spark, dir, from, resolvedTo)
    new DataFrameV1Table(s"$name@cdf", df.schema,
      s => DeltaLite.changes(s, dir, from, resolvedTo))
  }

  override def listTables(spark: SparkSession, rest: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path((Seq(basePath) ++ rest).mkString("/"))
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(DeltaLite.isDeltaTable(conf, _)).map(_.getName).sorted
  }
}

/** `warehouse` (or `path`) option = a hadoop-style warehouse of Iceberg
  * tables: `<warehouse>/<ns...>/<t>/metadata/vN.metadata.json`.
  */
final class IcebergLiteCatalogUnit(val ds: DataSourceSpec) extends CatalogUnit {
  private val warehouse = ds.options.getOrElse("warehouse", ds.options.getOrElse("path",
    throw new IllegalArgumentException(s"ICEBERG datasource ${ds.name} needs a warehouse option")))

  private def dirFor(spark: SparkSession, rest: Seq[String], name: String): Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    val nested = new Path((Seq(warehouse) ++ rest :+ name).mkString("/"))
    val candidates = Seq(nested) ++ (if (name == ds.name && rest.isEmpty) Seq(new Path(warehouse)) else Nil)
    candidates.find(IcebergLite.isIcebergTable(conf, _)).getOrElse(
      throw new NoSuchTableException((ds.namespace ++ rest :+ name).toSeq))
  }

  // Incremental changelog surface (Iceberg's start/end-snapshot-id
  // convention — start EXCLUSIVE, end inclusive): `readChangelog 'true'`
  // (+ optional `startSnapshot` / `endSnapshot`) on the REGISTER serves
  // every table of this datasource as its changelog.
  private val readChangelog =
    ds.options.get("readChangelog").exists(_.equalsIgnoreCase("true"))
  private val startSnapshot = ds.options.get("startSnapshot").map(_.toLong)
  private val endSnapshot = ds.options.get("endSnapshot").map(_.toLong)

  /** Changelog read ([[IcebergLite.changes]]); the snapshot range pins at
    * load time so a concurrent commit cannot shift the feed mid-query.
    */
  def loadChangelog(spark: SparkSession, rest: Seq[String], name: String): Table = {
    val dir = dirFor(spark, rest, name)
    val resolvedEnd = endSnapshot.orElse(
      Some(IcebergLite.snapshot(spark, dir).snapshotId))
    val df = IcebergLite.changes(spark, dir, startSnapshot, resolvedEnd)
    new DataFrameV1Table(s"$name@changelog", df.schema,
      s => IcebergLite.changes(s, dir, startSnapshot, resolvedEnd))
  }

  override def loadTable(spark: SparkSession, rest: Seq[String], name: String,
      schemaOverride: Option[StructType]): Table = {
    if (readChangelog) return loadChangelog(spark, rest, name)
    val dir = dirFor(spark, rest, name)
    // the READ's sequence baseline: DML conflict validation judges
    // everything committed past it (the Iceberg commit paths re-load
    // metadata at commit time, so winners interleave without losing a
    // version race — the scan→commit window IS the read window). Captured
    // BEFORE the scan snapshot loads: a commit landing between the two
    // driver reads then lands INSIDE the window and over-validates
    // (conservative), instead of escaping it
    val baseSeq = LakeNativeWrite.loadIceMeta(
      spark.sparkContext.hadoopConfiguration, dir).lastSeq
    val snap = IcebergLite.snapshot(spark, dir)
    val morDelete = LakeNativeWrite.icebergTableProperties(spark, dir)
      .get("write.delete.mode").contains("merge-on-read")
    val handle = new LakeRowLevel.RowLevelHandle {
      // the command's read scope in Iceberg conflict-validation form —
      // SnapshotProducer's conflict-detection filter: predicates judged
      // against a winner entry's decoded bounds + identity partition values
      private def iceScope(sc: LakeRowLevel.ReadScope): Option[LakeNativeWrite.IceReadScope] =
        Some(LakeNativeWrite.IceReadScope(
          readWholeTable = sc.readWholeTable,
          predicates = sc.predicates,
          schema = snap.schema,
          partitionCols = snap.partitionColumns,
          readFiles = sc.readFiles))
      override def scanWithRowIds(s: SparkSession): DataFrame =
        IcebergLite.toDataFrameWithRowIds(s, snap)
      override def commitRewrite(s: SparkSession, removed: Seq[String],
          replacement: DataFrame, operation: String,
          scope: LakeRowLevel.ReadScope): Unit =
        // Iceberg records operations in the snapshot summary with the
        // spec's fixed vocabulary; the Delta-style label is not carried
        LakeNativeWrite.icebergRewrite(s, dir, removed, replacement,
          readScope = iceScope(scope), baseSeq = Some(baseSeq))
      override def deleteByRowIds: Boolean = morDelete
      override def commitDeleteRows(s: SparkSession, matchedRowIds: DataFrame,
          changeRows: Option[DataFrame], operation: String,
          scope: LakeRowLevel.ReadScope): Unit =
        // no CDF concept here: the changelog derives deleted rows from the
        // delete-file delta, so change rows are not materialized
        LakeNativeWrite.icebergMorDelete(s, dir, matchedRowIds,
          readScope = iceScope(scope), baseSeq = Some(baseSeq))
      override def updateByRowIds: Boolean = LakeNativeWrite
        .icebergTableProperties(spark, dir)
        .get("write.update.mode").contains("merge-on-read")
      override def commitUpdateRows(s: SparkSession, matchedRowIds: DataFrame,
          newRows: DataFrame, changeRows: Option[DataFrame],
          operation: String, scope: LakeRowLevel.ReadScope): Unit =
        LakeNativeWrite.icebergMorUpdate(s, dir, matchedRowIds, newRows,
          readScope = iceScope(scope), baseSeq = Some(baseSeq))
      override def commitCompaction(s: SparkSession, removed: Seq[String],
          replacement: DataFrame): Unit =
        // summary.operation=replace marks byte motion: the compaction read
        // exactly the files it rewrites (changelog reads skip it)
        LakeNativeWrite.icebergRewrite(s, dir, removed, replacement,
          operation = "replace",
          readScope = iceScope(LakeRowLevel.ReadScope(
            readWholeTable = false, Nil, removed.toSet)),
          baseSeq = Some(baseSeq))
      override def listFiles(s: SparkSession): Seq[(String, Long, String)] =
        snap.dataFileMeta.zip(snap.files).map { case ((id, _), f) =>
          (id, f.size, f.partitionValues.mkString("/"))
        }
      override def partitionColumns: Seq[String] = snap.partitionColumns
      override def vacuum(s: SparkSession, retain: Int): (Long, Long) =
        LakeNativeWrite.icebergExpire(s, dir, retain)
      override def vacuumHours(s: SparkSession, hours: Int): (Long, Long) =
        LakeNativeWrite.icebergExpireHours(s, dir, hours)
      override def restore(s: SparkSession, version: Long): (Long, Long) =
        LakeNativeWrite.icebergRollback(s, dir, version)
      override def restoreTimestamp(s: SparkSession, tsMs: Long): (Long, Long) =
        LakeNativeWrite.icebergRollbackToTimestamp(s, dir, tsMs)
      override def history(s: SparkSession): Seq[(Long, Option[Long], Long, String, Option[Long], Option[Long])] = {
        val meta = org.json4s.jackson.JsonMethods.parse(IcebergLite.readString(
          s.sparkContext.hadoopConfiguration, IcebergLite.currentMetadataFile(
            s.sparkContext.hadoopConfiguration, dir)))
        implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
        IcebergLite.snapshotLineage(s, dir).reverse.map { case (seq, id, op, _) =>
          val ts = (meta \ "snapshots") match {
            case org.json4s.JArray(ss) => ss.collectFirst {
              case sj if (sj \ "snapshot-id") == org.json4s.JInt(BigInt(id)) =>
                (sj \ "timestamp-ms").extract[Long]
            }.getOrElse(0L)
            case _ => 0L
          }
          (seq, Some(id), ts, if (op.isEmpty) "append" else op, None, None)
        }
      }
      override def describe: String = s"iceberg table $dir"
    }
    new WritableLakeTable(name, schemaOverride.getOrElse(snap.schema),
      s => IcebergLite.toDataFrame(s, snap),
      (data, overwrite) => LakeNativeWrite.icebergInsert(data.sparkSession, dir, data, overwrite),
      rowLevelHandle = Some(handle))
  }

  /** Native CREATE TABLE (identity partitioning) when the jar is absent;
    * TBLPROPERTIES land in the metadata `properties` map (`write.*`
    * behavior levers like `write.delete.mode = merge-on-read`).
    */
  override def createTable(spark: SparkSession, rest: Seq[String], name: String,
      columns: Array[Column], partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (schema, partitionCols, userProps) = LiteCreate(columns, partitions, properties)
    val dir = new Path((Seq(warehouse) ++ rest :+ name).mkString("/"))
    LakeNativeWrite.icebergCreate(spark, dir, schema, partitionCols, userProps)
    loadTable(spark, rest, name, None)
  }

  /** ALTER TABLE schema evolution: ADD COLUMNS (fresh field ids — old
    * files null-fill), RENAME COLUMN (the id is permanent; reads flip to
    * field-id parquet resolution), and DROP COLUMN (the id retires; a
    * later re-add of the name gets a fresh id, so the dead column's data
    * never resurfaces). Type changes remain unsupported.
    */
  override def alterTable(spark: SparkSession, rest: Seq[String], name: String,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange]): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val dir = dirFor(spark, rest, name)
    // ADD COLUMNS arrives as one AddColumn change per column: batch them
    // into ONE schema-evolution commit (atomic — a duplicate name fails
    // the whole statement with no half-applied generation)
    val (addChanges, otherChanges) = changes.partition(_.isInstanceOf[TableChange.AddColumn])
    if (addChanges.nonEmpty) {
      val fields = addChanges.map { case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "nested ADD COLUMN is not supported by the native lake writer")
        var f = StructField(a.fieldNames()(0), a.dataType(), a.isNullable())
        if (a.comment() != null) f = f.withComment(a.comment())
        f
      }
      LakeNativeWrite.icebergAddColumns(spark, dir, fields)
    }
    otherChanges.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1, "nested RENAME COLUMN is not supported")
        LakeNativeWrite.icebergRenameColumn(spark, dir, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1, "nested DROP COLUMN is not supported")
        LakeNativeWrite.icebergDropColumn(spark, dir, d.fieldNames()(0))
      case t: TableChange.UpdateColumnType =>
        require(t.fieldNames().length == 1, "nested ALTER COLUMN TYPE is not supported")
        LakeNativeWrite.icebergWidenColumn(spark, dir, t.fieldNames()(0), t.newDataType())
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported by the native Iceberg writer")
    }
    loadTable(spark, rest, name, None)
  }

  override def loadTableVersion(spark: SparkSession, rest: Seq[String], name: String,
      version: String): Table = {
    val dir = dirFor(spark, rest, name)
    val snap = IcebergLite.snapshot(spark, dir, version = Some(version))
    new DataFrameV1Table(s"$name@$version", snap.schema,
      s => IcebergLite.toDataFrame(s, snap))
  }

  override def loadTableTimestamp(spark: SparkSession, rest: Seq[String], name: String,
      timestamp: Long): Table = {
    // DSv2 hands micros; the lite reader compares snapshot timestamp-ms
    val tsMillis = Math.floorDiv(timestamp, 1000L)
    val dir = dirFor(spark, rest, name)
    val snap = IcebergLite.snapshot(spark, dir, timestampMs = Some(tsMillis))
    new DataFrameV1Table(s"$name@ts$tsMillis", snap.schema,
      s => IcebergLite.toDataFrame(s, snap))
  }

  override def listTables(spark: SparkSession, rest: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path((Seq(warehouse) ++ rest).mkString("/"))
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(IcebergLite.isIcebergTable(conf, _)).map(_.getName).sorted
  }
}
