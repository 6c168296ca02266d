package graft.sources.lake

import org.apache.avro.Schema
import org.apache.avro.generic.GenericData
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model.AtomicFile

/** Minimal, spec-conformant *writers* for the two lake formats — enough to
  * materialize real on-disk tables (data + transaction metadata) for the
  * correctness gates, round-trip suites, and small exports. Production
  * write paths (optimistic concurrency, compaction, deletes) remain the
  * runtime jars' job; these writers emit exactly the subset of the public
  * specs that [[DeltaLite]]/[[IcebergLite]] read back, and are deliberately
  * structured so the reader is NOT being tested against its own code: what
  * goes on disk is the published JSON/Avro layout, byte-comparable against
  * the spec examples.
  */
object LakeWrite {

  /** Write `df` (collapsed to one partition) as exactly one parquet file at
    * `target`, returning its size in bytes. Fixture-scale helper.
    */
  def writeOneParquetFile(df: DataFrame, target: Path): Long = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(conf)
    val tmp = new Path(target.getParent, s".tmp-${target.getName}-${System.nanoTime()}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    if (fs.exists(target)) fs.delete(target, false)
    fs.mkdirs(target.getParent)
    require(fs.rename(part, target), s"rename $part -> $target failed")
    fs.delete(tmp, true)
    fs.getFileStatus(target).getLen
  }

  // ---- Delta log actions (public Delta protocol JSON) ----

  def deltaProtocol(minReader: Int = 1, minWriter: Int = 2): String =
    JsonMethods.compact(JObject("protocol" -> JObject(
      "minReaderVersion" -> JInt(minReader), "minWriterVersion" -> JInt(minWriter))))

  def deltaMetaData(id: String, schema: StructType, partitionColumns: Seq[String],
      configuration: Map[String, String] = Map.empty): String =
    JsonMethods.compact(JObject("metaData" -> JObject(
      "id" -> JString(id),
      "format" -> JObject("provider" -> JString("parquet"), "options" -> JObject()),
      "schemaString" -> JString(schema.json),
      "partitionColumns" -> JArray(partitionColumns.map(JString(_)).toList),
      "configuration" -> JObject(configuration.toList.map { case (k, v) =>
        k -> (JString(v): JValue) }),
      "createdTime" -> JInt(0))))

  def deltaAdd(relPath: String, size: Long, modificationTime: Long,
      partitionValues: Map[String, String], dataChange: Boolean = true,
      stats: Option[String] = None): String =
    JsonMethods.compact(JObject("add" -> JObject(List(
      "path" -> (JString(relPath): JValue),
      "partitionValues" -> (JObject(partitionValues.toList.map { case (k, v) => k -> (JString(v): JValue) }): JValue),
      "size" -> (JInt(size): JValue),
      "modificationTime" -> (JInt(modificationTime): JValue),
      "dataChange" -> (JBool(dataChange): JValue)) ++
      stats.map(st => "stats" -> (JString(st): JValue)).toList)))

  /** Feature protocol with the version floor the feature sets imply:
    * writer-only features keep minReaderVersion 1 (the spec's posture —
    * readers need no gate for them).
    */
  def deltaProtocolFeatures(readerFeatures: Seq[String], writerFeatures: Seq[String]): String =
    if (readerFeatures.isEmpty)
      JsonMethods.compact(JObject("protocol" -> JObject(
        "minReaderVersion" -> JInt(1), "minWriterVersion" -> JInt(7),
        "writerFeatures" -> JArray(writerFeatures.map(JString(_)).toList))))
    else deltaProtocolWithFeatures(readerFeatures, writerFeatures)

  def deltaProtocolWithFeatures(readerFeatures: Seq[String], writerFeatures: Seq[String]): String =
    JsonMethods.compact(JObject("protocol" -> JObject(
      "minReaderVersion" -> JInt(3), "minWriterVersion" -> JInt(7),
      "readerFeatures" -> JArray(readerFeatures.map(JString(_)).toList),
      "writerFeatures" -> JArray(writerFeatures.map(JString(_)).toList))))

  /** An add action carrying a deletionVector descriptor (v3 reader tables). */
  def deltaAddDv(relPath: String, size: Long, modificationTime: Long,
      partitionValues: Map[String, String], storageType: String, pathOrInlineDv: String,
      offset: Option[Long], sizeInBytes: Int, cardinality: Long,
      stats: Option[String] = None): String = {
    val dv = JObject(List(
      "storageType" -> (JString(storageType): JValue),
      "pathOrInlineDv" -> (JString(pathOrInlineDv): JValue)) ++
      offset.map(o => "offset" -> (JInt(o): JValue)).toList ++ List(
      "sizeInBytes" -> (JInt(sizeInBytes): JValue),
      "cardinality" -> (JInt(BigInt(cardinality)): JValue)))
    JsonMethods.compact(JObject("add" -> JObject(List(
      "path" -> (JString(relPath): JValue),
      "partitionValues" -> (JObject(partitionValues.toList.map { case (k, v) => k -> (JString(v): JValue) }): JValue),
      "size" -> (JInt(size): JValue),
      "modificationTime" -> (JInt(modificationTime): JValue),
      "dataChange" -> (JBool(true): JValue),
      "deletionVector" -> (dv: JValue)) ++
      stats.map(st => "stats" -> (JString(st): JValue)).toList)))
  }

  def deltaRemove(relPath: String, deletionTimestamp: Long): String =
    JsonMethods.compact(JObject("remove" -> JObject(
      "path" -> JString(relPath),
      "deletionTimestamp" -> JInt(deletionTimestamp),
      "dataChange" -> JBool(true))))

  /** A remove that moves bytes, not rows (OPTIMIZE / clustering). */
  def deltaRemoveNoDataChange(relPath: String, deletionTimestamp: Long): String =
    JsonMethods.compact(JObject("remove" -> JObject(
      "path" -> JString(relPath),
      "deletionTimestamp" -> JInt(deletionTimestamp),
      "dataChange" -> JBool(false))))

  /** A cdc action: one `_change_data/` file of change rows (each row
    * carries its `_change_type` in-file). Per the protocol cdc actions
    * always have `dataChange=false` — they describe the change feed, not
    * the table state.
    */
  def deltaCdc(relPath: String, size: Long, partitionValues: Map[String, String]): String =
    JsonMethods.compact(JObject("cdc" -> JObject(
      "path" -> JString(relPath),
      "partitionValues" -> JObject(partitionValues.toList.map { case (k, v) => k -> (JString(v): JValue) }),
      "size" -> JInt(size),
      "dataChange" -> JBool(false))))

  /** A SetTransaction action: the protocol's idempotent-writer marker
    * (streaming sinks record (appId, batchId) here; a replayed batch sees
    * its own version and skips).
    */
  def deltaTxn(appId: String, version: Long, lastUpdated: Long): String =
    JsonMethods.compact(JObject("txn" -> JObject(
      "appId" -> JString(appId),
      "version" -> JInt(BigInt(version)),
      "lastUpdated" -> JInt(BigInt(lastUpdated)))))

  def deltaCommitInfo(timestamp: Long, operation: String = null): String =
    JsonMethods.compact(JObject("commitInfo" -> JObject(
      List("timestamp" -> (JInt(timestamp): JValue)) ++
        Option(operation).map(o => "operation" -> (JString(o): JValue)).toList)))

  /** Write one commit file `_delta_log/%020d.json`. */
  def deltaCommit(conf: Configuration, tableDir: Path, version: Long, actions: Seq[String]): Path = {
    val log = new Path(tableDir, "_delta_log")
    val fs = log.getFileSystem(conf)
    fs.mkdirs(log)
    val file = new Path(log, f"$version%020d.json")
    val out = fs.create(file, true)
    try out.write((actions.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    file
  }

  // ---- Iceberg metadata (public Iceberg spec: JSON + Avro manifests) ----

  /** v2 manifest entry schema — the spec's field names and ids for the
    * subset the reader consumes. The partition struct (field r102) is
    * parameterized: empty for unpartitioned fixtures, a typed record for
    * identity-partitioned ones.
    */
  private val ManifestEntryTemplate =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":__PART__},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
      |  {"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
      |  {"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
      |]}}]}""".stripMargin.replaceAll("\n", "")

  def manifestEntrySchema(partitionTypeJson: String =
      """{"type":"record","name":"r102","fields":[]}"""): Schema =
    new Schema.Parser().parse(ManifestEntryTemplate.replace("__PART__", partitionTypeJson))

  val ManifestEntrySchema: Schema = manifestEntrySchema()

  /** v2 manifest-list entry schema (subset; same spec field ids). */
  val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin.replaceAll("\n", ""))

  /** One manifest entry: status 0=EXISTING 1=ADDED 2=DELETED; `partition`
    * fills the entry schema's r102 struct by field name (identity values).
    * `content` is the data_file's content field (0=data, 1=position deletes,
    * 2=equality deletes); `sequenceNumber` None = inherit from the manifest
    * list entry per the spec's inheritance rule.
    */
  final case class ManifestEntry(status: Int, filePath: String, recordCount: Long,
      fileSizeInBytes: Long, snapshotId: Long, partition: Map[String, Any] = Map.empty,
      content: Int = 0, sequenceNumber: Option[Long] = None,
      equalityIds: Seq[Int] = Nil,
      /** per-field-id single-value-serialized bounds + null counts (spec
        * lower_bounds 125 / upper_bounds 128 / null_value_counts 110)
        */
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty)

  /** The spec's single-value serialization for bound values: fixed-width
    * little-endian numerics, UTF-8 strings, one-byte booleans.
    */
  def icebergBoundBytes(v: Any): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    v match {
      case x: Int => Some(le(4).putInt(x).array())
      case x: Long => Some(le(8).putLong(x).array())
      case x: Float => Some(le(4).putFloat(x).array())
      case x: Double => Some(le(8).putDouble(x).array())
      case x: Boolean => Some(Array[Byte](if (x) 1 else 0))
      case x: String => Some(x.getBytes("UTF-8"))
      case _ => None
    }
  }

  /** Inverse of [[icebergBoundBytes]] for the types the skipping evaluator
    * orders.
    */
  def icebergBoundValue(dt: org.apache.spark.sql.types.DataType,
      bytes: Array[Byte]): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    import org.apache.spark.sql.types._
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType if bytes.length == 4 => Some(le.getInt)
      case LongType if bytes.length == 8 => Some(le.getLong)
      // bounds written BEFORE a type-widening evolution keep the narrow
      // encoding; widen on read so skipping survives the ALTER
      case LongType if bytes.length == 4 => Some(le.getInt.toLong)
      case FloatType if bytes.length == 4 => Some(le.getFloat)
      case DoubleType if bytes.length == 8 => Some(le.getDouble)
      case DoubleType if bytes.length == 4 => Some(le.getFloat.toDouble)
      case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
      case StringType => Some(new String(bytes, "UTF-8"))
      case _ => None
    }
  }

  def icebergWriteManifest(file: java.io.File, entries: Seq[ManifestEntry],
      entrySchema: Schema = ManifestEntrySchema): Long = {
    val records = entries.iterator.map { e =>
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", e.content)
      df.put("file_path", e.filePath)
      df.put("file_format", "PARQUET")
      val partSchema = entrySchema.getField("data_file").schema().getField("partition").schema()
      val part = new GenericData.Record(partSchema)
      e.partition.foreach { case (k, v) => part.put(k, v) }
      df.put("partition", part)
      df.put("record_count", e.recordCount)
      df.put("file_size_in_bytes", e.fileSizeInBytes)
      if (e.equalityIds.nonEmpty) {
        val eqField = entrySchema.getField("data_file").schema().getField("equality_ids")
        val arrSchema = eqField.schema().getTypes.get(1) // non-null union branch
        val arr = new GenericData.Array[Integer](e.equalityIds.size, arrSchema)
        e.equalityIds.foreach(id => arr.add(Int.box(id)))
        df.put("equality_ids", arr)
      }
      def putKvMap(fieldName: String, m: Map[Int, Any]): Unit = if (m.nonEmpty) {
        val f = entrySchema.getField("data_file").schema().getField(fieldName)
        val arrSchema = f.schema().getTypes.get(1)
        val itemSchema = arrSchema.getElementType
        val arr = new GenericData.Array[GenericData.Record](m.size, arrSchema)
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val kv = new GenericData.Record(itemSchema)
          kv.put("key", k)
          kv.put("value", v match {
            case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
            case x => x
          })
          arr.add(kv)
        }
        df.put(fieldName, arr)
      }
      putKvMap("lower_bounds", e.lowerBounds)
      putKvMap("upper_bounds", e.upperBounds)
      putKvMap("null_value_counts", e.nullCounts.map { case (k, v) => k -> Long.box(v) })
      val r = new GenericData.Record(entrySchema)
      r.put("status", e.status)
      r.put("snapshot_id", e.snapshotId)
      r.put("sequence_number", e.sequenceNumber.map(Long.box).orNull)
      r.put("file_sequence_number", null)
      r.put("data_file", df)
      r: org.apache.avro.generic.GenericRecord
    }
    AvroLite.writeFile(file, entrySchema, records,
      meta = Map("content" ->
        (if (entries.exists(_.content != 0)) "deletes" else "data").getBytes("UTF-8")))
    file.length()
  }

  /** One manifest-list entry: content 0=data manifest, 1=delete manifest;
    * `sequenceNumber` is the commit sequence the manifest was added at (what
    * null entry sequence numbers inherit).
    */
  final case class ManifestFile(path: String, length: Long, content: Int,
      sequenceNumber: Long,
      /** the partition spec the manifest's entries were written under —
        * delete manifests on a partitioned table use the registered
        * UNPARTITIONED spec (global deletes), never spec 0's struct
        */
      specId: Int = 0,
      /** (files, rows) by entry status — external planners read these for
        * stats, so writing zeros for a manifest that added files is wrong
        * metadata, not a shortcut
        */
      added: (Int, Long) = (0, 0L),
      existing: (Int, Long) = (0, 0L),
      deleted: (Int, Long) = (0, 0L))

  /** Counts derived from a manifest's entries (status 1=ADDED, 0=EXISTING,
    * 2=DELETED), for the manifest-list entry that references it.
    */
  def manifestCounts(entries: Seq[ManifestEntry]):
      ((Int, Long), (Int, Long), (Int, Long)) = {
    def agg(status: Int) = {
      val es = entries.filter(_.status == status)
      (es.size, es.map(_.recordCount).sum)
    }
    (agg(1), agg(0), agg(2))
  }

  def icebergWriteManifestList(file: java.io.File,
      manifests: Seq[(String, Long)], snapshotId: Long, sequenceNumber: Long): Unit =
    icebergWriteManifestListEntries(file,
      manifests.map { case (p, l) => ManifestFile(p, l, 0, sequenceNumber) }, snapshotId)

  def icebergWriteManifestListEntries(file: java.io.File,
      manifests: Seq[ManifestFile], snapshotId: Long): Unit = {
    val records = manifests.iterator.map { mf =>
      val r = new GenericData.Record(ManifestFileSchema)
      r.put("manifest_path", mf.path)
      r.put("manifest_length", mf.length)
      r.put("partition_spec_id", mf.specId)
      r.put("content", mf.content)
      r.put("sequence_number", mf.sequenceNumber)
      r.put("min_sequence_number", mf.sequenceNumber)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", mf.added._1)
      r.put("existing_files_count", mf.existing._1)
      r.put("deleted_files_count", mf.deleted._1)
      r.put("added_rows_count", mf.added._2)
      r.put("existing_rows_count", mf.existing._2)
      r.put("deleted_rows_count", mf.deleted._2)
      r: org.apache.avro.generic.GenericRecord
    }
    AvroLite.writeFile(file, ManifestFileSchema, records)
  }

  /** Spark StructType -> Iceberg schema JSON (identity field ids 1..n,
    * fixture subset: flat primitive columns).
    */
  def icebergSchemaJson(schema: StructType): JObject =
    icebergSchemaJsonIds(schema, schema.indices.map(_ + 1), 0)

  /** Schema JSON with EXPLICIT field ids — the evolution-correct form: ids
    * are permanent (a rename keeps its id, a drop retires it, a re-add
    * allocates fresh), which is what lets readers resolve parquet columns
    * by id across renames instead of misreading by name.
    */
  def icebergSchemaJsonIds(schema: StructType, ids: Seq[Int], schemaId: Int): JObject = {
    val fields = schema.fields.zip(ids).map { case (f, id) =>
      val t: JValue = f.dataType match {
        case org.apache.spark.sql.types.IntegerType => JString("int")
        case org.apache.spark.sql.types.LongType => JString("long")
        case org.apache.spark.sql.types.FloatType => JString("float")
        case org.apache.spark.sql.types.DoubleType => JString("double")
        case org.apache.spark.sql.types.BooleanType => JString("boolean")
        case org.apache.spark.sql.types.StringType => JString("string")
        case org.apache.spark.sql.types.DateType => JString("date")
        case org.apache.spark.sql.types.TimestampType => JString("timestamptz")
        case org.apache.spark.sql.types.TimestampNTZType => JString("timestamp")
        case org.apache.spark.sql.types.BinaryType => JString("binary")
        case d: org.apache.spark.sql.types.DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
        case other => throw new UnsupportedOperationException(
          s"column type $other is not supported by the native Iceberg metadata " +
            "writer (flat primitive schemas only — nested tables read fine but " +
            "their DDL needs the full runtime)")
      }
      JObject("id" -> JInt(id), "name" -> JString(f.name),
        "required" -> JBool(!f.nullable), "type" -> t)
    }
    JObject("type" -> JString("struct"), "schema-id" -> JInt(schemaId),
      "fields" -> JArray(fields.toList))
  }

  final case class IcebergSnapshot(id: Long, timestampMs: Long, manifestListPath: String,
      sequenceNumber: Long, parentId: Option[Long] = None, operation: String = "append",
      extraSummary: Map[String, String] = Map.empty,
      /** the schema generation current when this snapshot committed — what
        * time travel reads with (Iceberg's own semantics)
        */
      schemaId: Int = 0)

  /** Write vN.metadata.json + version-hint.text for a hadoop-style table.
    * `specFields` = the default partition spec's field objects (e.g.
    * identity: {"name":"p","transform":"identity","source-id":2,
    * "field-id":1000}); empty = unpartitioned.
    */
  def icebergWriteMetadata(conf: Configuration, tableDir: Path, version: Int,
      schema: StructType, snapshots: Seq[IcebergSnapshot], currentSnapshotId: Long,
      refs: Map[String, (Long, String)] = Map.empty,
      specFields: Seq[JObject] = Nil,
      properties: Map[String, String] = Map.empty,
      /** FULL schema history to carry verbatim (current entry included);
        * empty = single schema derived from `schema` with positional ids
        */
      schemasJson: List[JValue] = Nil,
      currentSchemaId: Int = 0,
      /** highest field id ever allocated; -1 = derive from the schemas */
      lastColumnId: Int = -1,
      /** snapshot-log entries (timestampMs, snapshotId) to write verbatim;
        * empty = derive one entry per snapshot in list order (correct for
        * append-only histories, wrong after a rollback — rollback callers
        * must pass the truncated+appended log, per the Iceberg spec's rule
        * that invalidated log entries are dropped and a rollback appends a
        * fresh entry at rollback time)
        */
      snapshotLog: Seq[(Long, Long)] = Nil,
      /** true = HadoopTableOperations' atomic create-no-overwrite commit:
        * losing the version race throws CommitFailedException instead of
        * clobbering the winner (live commit paths); false = plain
        * overwrite (fixture/bootstrap writes with no concurrent writers)
        */
      failIfExists: Boolean = false): Path = {
    val metaDir = new Path(tableDir, "metadata")
    val fs = metaDir.getFileSystem(conf)
    fs.mkdirs(metaDir)
    val json = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(new java.util.UUID(tableDir.hashCode.toLong, 42L).toString),
      "location" -> JString(tableDir.toString),
      "last-sequence-number" -> JInt(BigInt(snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L))),
      "last-updated-ms" -> JInt(BigInt(snapshots.map(_.timestampMs).maxOption.getOrElse(0L))),
      "last-column-id" -> JInt({
        def maxId(j: JValue): Int = (j \ "fields") match {
          case JArray(fs) => fs.map(f => (f \ "id") match {
            case JInt(i) => i.toInt
            case _ => 0
          }).maxOption.getOrElse(0)
          case _ => 0
        }
        if (lastColumnId >= 0) lastColumnId
        else if (schemasJson.nonEmpty) schemasJson.map(maxId).max
        else schema.fields.length
      }),
      "schemas" -> (if (schemasJson.nonEmpty) JArray(schemasJson)
        else JArray(List(icebergSchemaJson(schema)))),
      "current-schema-id" -> JInt(currentSchemaId),
      // a partitioned table also registers an UNPARTITIONED spec (id 1):
      // global position/equality delete manifests are written under it,
      // so external readers resolving partition_spec_id decode the empty
      // partition struct instead of expecting spec 0's fields
      "partition-specs" -> JArray(
        JObject("spec-id" -> JInt(0),
          "fields" -> JArray(specFields.map(f => f: JValue).toList)) ::
        (if (specFields.nonEmpty)
          List(JObject("spec-id" -> JInt(1), "fields" -> JArray(Nil)): JValue)
         else Nil)),
      "default-spec-id" -> JInt(0),
      "last-partition-id" -> JInt(999),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      "default-sort-order-id" -> JInt(0),
      "properties" -> JObject(properties.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) }),
      "current-snapshot-id" -> JInt(BigInt(currentSnapshotId)),
      "snapshots" -> JArray(snapshots.map(s => JObject(List(
        "snapshot-id" -> (JInt(BigInt(s.id)): JValue)) ++
        s.parentId.map(p => "parent-snapshot-id" -> (JInt(BigInt(p)): JValue)).toList ++ List(
        "sequence-number" -> (JInt(BigInt(s.sequenceNumber)): JValue),
        "timestamp-ms" -> (JInt(BigInt(s.timestampMs)): JValue),
        "manifest-list" -> (JString(s.manifestListPath): JValue),
        "summary" -> (JObject(("operation" -> (JString(s.operation): JValue)) ::
          s.extraSummary.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }): JValue),
        "schema-id" -> (JInt(s.schemaId): JValue))) : JValue).toList),
      "snapshot-log" -> JArray({
        val entries = if (snapshotLog.nonEmpty) snapshotLog
          else snapshots.map(s => (s.timestampMs, s.id))
        entries.map { case (ts, id) => JObject(
          "timestamp-ms" -> JInt(BigInt(ts)),
          "snapshot-id" -> JInt(BigInt(id))) : JValue }.toList
      }),
      "metadata-log" -> JArray(Nil),
      "refs" -> JObject(refs.toList.map { case (n, (id, typ)) =>
        n -> (JObject("snapshot-id" -> JInt(BigInt(id)), "type" -> JString(typ)): JValue)
      }))
    val file = new Path(metaDir, s"v$version.metadata.json")
    val bytes = JsonMethods.pretty(JsonMethods.render(json)).getBytes("UTF-8")
    if (failIfExists) {
      if (!AtomicFile.atomicCreate(fs, file, bytes))
        throw new LakeConcurrency.CommitFailedException(
          s"lost the commit race for v$version under $metaDir — " +
            "refresh the table metadata and retry the operation")
    } else {
      val out = fs.create(file, true)
      try out.write(bytes) finally out.close()
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    file
  }
}
