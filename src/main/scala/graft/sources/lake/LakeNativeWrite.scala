package graft.sources.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Native CREATE / INSERT for Delta and Iceberg tables — the write half of
  * the lake-lite story, used when the runtime jars are absent (the
  * reference delegates BOTH directions to the jars:
  * v3.5/.../IcebergCatalogUnit.scala:30-42, AbstractDeltaCatalogUnit.scala;
  * round 6 made reads native, this makes an offline deployment able to
  * write what it reads).
  *
  * Scale shape: the DATA path is Spark's own distributed parquet writer
  * (`df.write [partitionBy] parquet` into a staging dir, then per-file
  * renames — rename is metadata-only on HDFS-like stores); only the
  * TRANSACTION metadata (one JSON commit / one Avro manifest + list +
  * metadata JSON per insert) is driver-side, which is exactly how the real
  * writers behave. Commit atomicity uses create-no-overwrite on the next
  * version file with bounded retry — the hadoop-table protocol both formats
  * document for filesystems with atomic create.
  *
  * Supported: unpartitioned and identity-partitioned tables (hive-style
  * staging dirs carry the values; for Iceberg the values ALSO land in the
  * manifest partition struct so the reader serves and prunes them), append
  * and overwrite. Not here: schema evolution, row-level deletes,
  * compaction — the full runtimes' job.
  */
object LakeNativeWrite {

  final case class StagedFile(relPath: String, size: Long, rowCount: Long,
      partitionValues: Map[String, String], statsJson: Option[String] = None)

  // ---- shared staging ----

  /** Write `df` as parquet files via Spark's distributed writer, move them
    * under `tableDir/relPrefix` (partition dirs preserved), return per-file
    * metadata. `df` must already be column-aligned to the table schema.
    */
  def writeDataFiles(df: DataFrame, tableDir: Path, partitionCols: Seq[String],
      relPrefix: String): Seq[StagedFile] = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = tableDir.getFileSystem(conf)
    val staging = new Path(tableDir, s".staging-${System.nanoTime()}")
    try {
      val writer = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(staging.toString)
      val staged = listParquet(fs, staging, staging)
      staged.map { case (p, rel, size) =>
        val relOut = if (relPrefix.isEmpty) rel else s"$relPrefix/$rel"
        val target = new Path(tableDir, relOut)
        fs.mkdirs(target.getParent)
        require(fs.rename(p, target), s"rename $p -> $target failed")
        val (rows, stats) = parquetFooterInfo(conf, target, df.schema)
        StagedFile(relOut, size, rows, partitionDirValues(rel), stats)
      }
    } finally { fs.delete(staging, true); () }
  }

  private def listParquet(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      base: Path): Seq[(Path, String, Long)] = {
    // listStatus returns scheme-qualified paths; qualify the base the same
    // way or the prefix strip silently no-ops
    val qBase = fs.makeQualified(base).toString
    val out = Seq.newBuilder[(Path, String, Long)]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) {
        val q = fs.makeQualified(st.getPath).toString
        require(q.startsWith(qBase), s"staged file $q escaped staging dir $qBase")
        val rel = q.stripPrefix(qBase).stripPrefix("/")
        out += ((st.getPath, rel, st.getLen))
      }
    }
    walk(root)
    out.result()
  }

  private def parquetRowCount(conf: Configuration, p: Path): Long =
    parquetFooterInfo(conf, p, new StructType())._1

  /** One footer open: record count plus, when `schema` names supported
    * top-level primitive columns, a Delta `stats` JSON (numRecords +
    * min/maxValues + nullCount) aggregated across row groups. String
    * bounds aggregate under UTF8-byte ordering — the ordering the scan's
    * data skipping compares with — and a column whose stats any row group
    * omits drops entirely (skipping stays conservative).
    */
  private def parquetFooterInfo(conf: Configuration, p: Path,
      schema: StructType): (Long, Option[String]) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      val wanted = schema.fields.filter(f => f.dataType match {
        case IntegerType | LongType | ShortType | ByteType |
             FloatType | DoubleType | StringType | BooleanType => true
        case _ => false
      })
      if (wanted.isEmpty) return (rows, None)
      val blocks = r.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val mins = scala.collection.mutable.HashMap[String, Any]()
      val maxs = scala.collection.mutable.HashMap[String, Any]()
      val nulls = scala.collection.mutable.HashMap[String, Long]()
      val dropped = scala.collection.mutable.HashSet[String]()
      def ord(dt: DataType, a: Any, b: Any): Int = (dt, a, b) match {
        case (StringType, x: String, y: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
        case (_, x: java.lang.Comparable[_], y) =>
          x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
      }
      blocks.asScala.foreach { b =>
        val byName = b.getColumns.asScala
          .filter(_.getPath.size() == 1).map(c => c.getPath.toDotString -> c).toMap
        wanted.foreach { f =>
          if (!dropped(f.name)) byName.get(f.name) match {
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) { dropped += f.name; () }
              else {
                nulls(f.name) = nulls.getOrElse(f.name, 0L) + st.getNumNulls
                if (st.hasNonNullValue) {
                  // floating-point bounds: -0.0 == 0.0 under SQL `=` but
                  // not under total orderings, so widen zero bounds
                  // (min -> -0.0, max -> +0.0) the way Delta's stats writer
                  // does; a NaN bound proves nothing — drop the column
                  def decode(v: Any, isMin: Boolean): Option[Any] = (f.dataType, v) match {
                    case (IntegerType, x: java.lang.Integer) => Some(x.intValue())
                    case (ShortType, x: java.lang.Integer) => Some(x.shortValue())
                    case (ByteType, x: java.lang.Integer) => Some(x.byteValue())
                    case (FloatType, x: java.lang.Float) =>
                      if (x.isNaN) None
                      else if (x.floatValue() == 0.0f) Some(if (isMin) -0.0f else 0.0f)
                      else Some(x.floatValue())
                    case (DoubleType, x: java.lang.Double) =>
                      if (x.isNaN) None
                      else if (x.doubleValue() == 0.0d) Some(if (isMin) -0.0d else 0.0d)
                      else Some(x.doubleValue())
                    case (LongType, x: java.lang.Long) => Some(x.longValue())
                    case (BooleanType, x: java.lang.Boolean) => Some(x.booleanValue())
                    case (StringType, x: org.apache.parquet.io.api.Binary) =>
                      Some(x.toStringUsingUTF8)
                    case _ => None
                  }
                  (decode(st.genericGetMin, isMin = true),
                      decode(st.genericGetMax, isMin = false)) match {
                    case (Some(mn), Some(mx)) =>
                      mins(f.name) = mins.get(f.name)
                        .filter(cur => ord(f.dataType, cur, mn) <= 0).getOrElse(mn)
                      maxs(f.name) = maxs.get(f.name)
                        .filter(cur => ord(f.dataType, cur, mx) >= 0).getOrElse(mx)
                    case _ => dropped += f.name; ()
                  }
                }
              }
            case None => dropped += f.name; ()
          }
        }
      }
      dropped.foreach { n => mins.remove(n); maxs.remove(n); nulls.remove(n) }
      if (nulls.isEmpty && mins.isEmpty) return (rows, None)
      def jval(dt: DataType, v: Any): JValue = v match {
        case x: Int => JInt(BigInt(x))
        case x: Long => JInt(BigInt(x))
        case x: Short => JInt(BigInt(x.toInt))
        case x: Byte => JInt(BigInt(x.toInt))
        case x: Float => JDouble(x.toDouble)
        case x: Double => JDouble(x)
        case x: Boolean => JBool(x)
        case x: String => JString(x)
        case _ => JNothing
      }
      def boundObj(m: scala.collection.Map[String, Any]): JObject =
        JObject(m.toList.sortBy(_._1).map { case (k, v) =>
          k -> jval(schema.fields.find(_.name == k).get.dataType, v)
        })
      val json = JsonMethods.compact(JObject(
        "numRecords" -> JInt(BigInt(rows)),
        "minValues" -> boundObj(mins),
        "maxValues" -> boundObj(maxs),
        "nullCount" -> JObject(nulls.toList.sortBy(_._1).map { case (k, v) =>
          k -> (JInt(BigInt(v)): JValue) })))
      (rows, Some(json))
    } finally r.close()
  }

  /** `p1=v1/p2=v2/part-....parquet` -> Map(p1 -> v1, p2 -> v2), with
    * Spark's %xx dir-name escapes decoded; `__HIVE_DEFAULT_PARTITION__`
    * maps to null (absent from the map).
    */
  private[lake] def partitionDirValues(rel: String): Map[String, String] =
    rel.split("/").dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if v != "__HIVE_DEFAULT_PARTITION__" => Some(k -> unescape(v))
        case _ => None
      }
    }.toMap

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Align `df` to the declared schema: same column set (by name), declared
    * order, cast to declared types.
    */
  private def align(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.map(c => c.toLowerCase -> c).toMap
    val missing = schema.fieldNames.filterNot(f => have.contains(f.toLowerCase))
    require(missing.isEmpty, s"INSERT is missing columns: ${missing.mkString(", ")}")
    df.select(schema.fields.toIndexedSeq.map(f =>
      col(have(f.name.toLowerCase)).cast(f.dataType).as(f.name)): _*)
  }

  // ---- Delta ----

  /** Features the LEGACY protocol versions imply (Delta spec: upgrading a
    * version-gated table to table-features versions must LIST everything
    * the old minReader/minWriter granted — emitting 3/7 with only the new
    * feature silently revokes e.g. CHECK-constraint enforcement for
    * external writers). Only meaningful when the declared feature lists
    * are empty (a legacy table); feature-listing tables already say what
    * they support.
    */
  private def legacyImpliedFeatures(p: DeltaLite.Protocol): (Seq[String], Seq[String]) = {
    if (p.readerFeatures.nonEmpty || p.writerFeatures.nonEmpty) return (Nil, Nil)
    val writer = Seq(
      (2, "appendOnly"), (2, "invariants"),
      (3, "checkConstraints"),
      (4, "changeDataFeed"), (4, "generatedColumns"),
      (5, "columnMapping"),
      (6, "identityColumns")
    ).collect { case (v, f) if p.minWriter >= v => f }
    val reader = Seq((2, "columnMapping")).collect { case (v, f) if p.minReader >= v => f }
    (reader, writer)
  }

  /** The reader/writer features a configuration implies — declared in the
    * protocol action so EXTERNAL readers gate correctly (our own reader
    * keys off the configuration, but a spec-conforming table must say so).
    */
  private def impliedFeatures(config: Map[String, String]):
      (Seq[String], Seq[String]) = {
    def on(k: String) = config.get(k).exists(_.equalsIgnoreCase("true"))
    val reader = Seq(
      (config.get("delta.columnMapping.mode").exists(m => m == "name" || m == "id"),
        "columnMapping"),
      (on("delta.enableDeletionVectors"), "deletionVectors"),
      (on("delta.enableTypeWidening"), "typeWidening"),
      (config.get("delta.checkpointPolicy").contains("v2"), "v2Checkpoint")
    ).collect { case (true, f) => f }
    val writer = reader ++ (if (on("delta.enableChangeDataFeed")) Seq("changeDataFeed") else Nil)
    (reader, writer)
  }

  /** The Delta spec gates v2 checkpoints behind the `v2Checkpoint` READER
    * table feature + `delta.checkpointPolicy = v2`: readers that do not
    * know the feature skip UUID-named checkpoint files entirely, so a v2
    * checkpoint on an ungated table turns unreadable-to-them the moment
    * the JSON tail is cleaned (while this engine reads it fine).
    * CHECKPOINT ... V2 therefore declares the gate in ONE ordinary
    * protocol+metaData commit before the checkpoint is written; a no-op
    * when the table already declares the feature.
    */
  def deltaEnsureV2CheckpointProtocol(spark: SparkSession, dir: Path): Unit = {
    val snap = DeltaLite.snapshot(spark, dir)
    if (!snap.protocol.readerFeatures.contains("v2Checkpoint"))
      deltaAlter(spark, dir, s =>
        (s.schema, s.configuration + ("delta.checkpointPolicy" -> "v2")))
  }

  def deltaCreate(spark: SparkSession, dir: Path, schema: StructType,
      partitionCols: Seq[String], properties: Map[String, String] = Map.empty): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(!DeltaLite.isDeltaTable(conf, dir), s"Delta table already exists at $dir")
    partitionCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    val (readerF, writerF) = impliedFeatures(properties)
    val protocol =
      if (writerF.isEmpty) LakeWrite.deltaProtocol()
      else LakeWrite.deltaProtocolFeatures(readerF, writerF)
    commitDeltaWithCrc(spark, dir, 0L, Seq(
      LakeWrite.deltaCommitInfo(System.currentTimeMillis(), operation = "CREATE TABLE"),
      protocol,
      LakeWrite.deltaMetaData(java.util.UUID.randomUUID().toString, schema, partitionCols,
        properties)))
  }

  /** Align to the logical schema, then rename to PHYSICAL columns for a
    * column-mapping table (the parquet files and partition dirs must carry
    * physical names — the reader maps them back). Returns the frame to
    * write and the partition column names as they appear in it.
    */
  private def toPhysical(aligned: DataFrame, snap: DeltaLite.Snapshot): (DataFrame, Seq[String]) =
    snap.physSchema match {
      case None => (aligned, snap.partitionColumns)
      case Some(ps) =>
        val renamed = aligned.select(snap.schema.fields.zip(ps.fields).toIndexedSeq.map {
          case (lf, pf) => col(s"`${lf.name}`").cast(pf.dataType).as(pf.name)
        }: _*)
        (renamed, snap.partitionColumns.map(c => ps.fields(snap.schema.fieldIndex(c)).name))
    }

  def deltaInsert(spark: SparkSession, dir: Path, data: DataFrame, overwrite: Boolean,
      txn: Option[(String, Long)] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = DeltaLite.snapshot(spark, dir)
    val (physical, physParts) = toPhysical(align(data, snap.schema), snap)
    val now = System.currentTimeMillis()
    val staged = writeDataFiles(physical, dir, physParts, "")
    val adds = staged.map(f => LakeWrite.deltaAdd(f.relPath, f.size, now, f.partitionValues,
      stats = f.statsJson))
    val removes =
      if (!overwrite) Nil
      else snap.fileIds.map(p => LakeWrite.deltaRemove(p, now))
    // a blind append's feed derives from its adds; an OVERWRITE of a
    // CDF-enabled table is a row rewrite and must ship its change files
    // (old rows out, new rows in) or the feed read would reject the commit
    val cdc =
      if (!overwrite || !snap.cdfEnabled || snap.files.isEmpty) Nil
      else {
        import org.apache.spark.sql.functions.lit
        val dropped = DeltaLite.toDataFrame(spark, snap)
          .withColumn(DeltaLite.CdfTypeCol, lit("delete"))
        val added = align(data, snap.schema)
          .withColumn(DeltaLite.CdfTypeCol, lit("insert"))
        stageChangeFiles(dropped.unionByName(added), dir, snap)
      }
    val txnActions = txn.toSeq.map { case (appId, v) => LakeWrite.deltaTxn(appId, v, now) }
    commitDeltaWithCrc(spark, dir, snap.version + 1,
      Seq(LakeWrite.deltaCommitInfo(now, operation = "WRITE")) ++
        txnActions ++ cdc ++ removes ++ adds, base = Some(snap))
  }

  /** Merge-on-read DELETE for Delta: instead of rewriting the touched
    * files, write one deletion-vector file per touched data file (new
    * positions MERGED with the file's existing vector — an add's DV
    * replaces, so the union must be complete) and re-add each file with
    * its vector, one atomic commit, `_change_data` riding along when the
    * table keeps a change feed. Bitmaps build EXECUTOR-side (one task per
    * touched file after the keyed shuffle of (file, ordinal) pairs — 24
    * bytes/row, the deleted rows' content never moves), so a selective
    * DELETE on a 100 TB table costs the matched row IDs plus tiny vector
    * files, not a single data-file rewrite.
    */
  def deltaDvDelete(spark: SparkSession, dir: Path, snap: DeltaLite.Snapshot,
      matchedRowIds: DataFrame, changeRows: Option[DataFrame],
      operation: String = "DELETE",
      readScope: Option[DeltaReadScope] = None): Unit =
    deltaDvCommit(spark, dir, snap, matchedRowIds, None, changeRows, operation,
      readScope)

  /** Merge-on-read UPDATE: the matched rows mask out via deletion vectors
    * while their rewritten versions append as NEW files — one atomic
    * commit, the Delta runtime's own DV-update shape. Costs the matched
    * row ids + the rewritten rows, never a full-file rewrite.
    */
  def deltaDvUpdate(spark: SparkSession, dir: Path, snap: DeltaLite.Snapshot,
      matchedRowIds: DataFrame, newRows: DataFrame,
      changeRows: Option[DataFrame], operation: String = "UPDATE",
      readScope: Option[DeltaReadScope] = None): Unit =
    deltaDvCommit(spark, dir, snap, matchedRowIds, Some(newRows), changeRows, operation,
      readScope)

  private def deltaDvCommit(spark: SparkSession, dir: Path, snap: DeltaLite.Snapshot,
      matchedRowIds: DataFrame, appendRows: Option[DataFrame],
      changeRows: Option[DataFrame], operation: String = null,
      readScope: Option[DeltaReadScope] = None): Unit = {
    import org.apache.spark.sql.GraftLakeBridge
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val sconf = GraftLakeBridge.serializableConf(spark)
    // existing descriptors resolved driver-side; decode happens in the task
    val oldDvs: Map[String, (String, Array[Byte], Long, Int)] =
      snap.dvs.map { case (id, d) =>
        id -> (RoaringDv.resolvePath(snap.tableDir, d.storageType, d.pathOrInlineDv) match {
          case Some(p) => (p.toString, Array.empty[Byte], d.offset, d.sizeInBytes)
          case None => ("", RoaringDv.base85Decode(d.pathOrInlineDv), 0L, d.sizeInBytes)
        })
      }
    val bcOld = spark.sparkContext.broadcast(oldDvs)
    val dirStr = dir.toString
    val descs = matchedRowIds
      .select(col(graft.plans.LakeRowLevel.FileIdCol).as("fid"),
        col(graft.plans.LakeRowLevel.RowIxCol).as("rix"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (fid, it) =>
        // incremental builder: neither the new positions nor the existing
        // vector's ever materialize as an array — the union builds in
        // per-container word blocks and streams back out
        val bld = new RoaringDv.BitmapBuilder
        it.foreach(t => bld.add(t._2))
        bcOld.value.get(fid).foreach { case (p, inline, off, sz) =>
          val bytes =
            if (p.isEmpty) inline.take(sz)
            else RoaringDv.readDvData(sconf.value, new org.apache.hadoop.fs.Path(p), off, sz)
          RoaringDv.foreachPosition(bytes)(bld.add)
        }
        val bmp = bld.result()
        val uuid = java.util.UUID.randomUUID()
        val (offset, size) = RoaringDv.writeDvFile(sconf.value,
          new org.apache.hadoop.fs.Path(dirStr, s"deletion_vector_$uuid.bin"), bmp)
        (fid, RoaringDv.encodeUuid(uuid), offset, size, bld.cardinality)
      }
      .collect()
    require(descs.nonEmpty || appendRows.nonEmpty,
      "DV commit resolved no touched files and no appended rows")

    val byId = snap.fileIds.zip(snap.files).toMap
    val physPartNames = snap.physPartitionSchema.fieldNames
    def rawParts(f: org.apache.spark.sql.GraftLakeBridge.LakeFile): Map[String, String] =
      physPartNames.zip(f.partitionValues).collect {
        case (k, v) if v != null => k -> v.toString
      }.toMap
    val now = System.currentTimeMillis()
    val adds = descs.map { case (fid, dvRef, offset, size, card) =>
      val f = byId(fid)
      // the file's bounds are unchanged by masking rows — keep them so data
      // skipping survives a deletion-vector delete
      LakeWrite.deltaAddDv(fid, f.size, now, rawParts(f), "u", dvRef,
        Some(offset), size, card, stats = snap.statsJson.get(fid))
    }
    // reader feature gate: DV tables need protocol 3/7 with the feature
    // listed — as a UNION with everything the log already declares (the
    // last protocol action wins on replay, so a wholesale re-statement
    // would drop changeDataFeed on a CDF table, or timestampNtz/invariants
    // an external writer declared — the never-downgrade invariant
    // deltaAlter enforces applies here too)
    val newFeatures = Seq("deletionVectors") ++
      (if (snap.physSchema.isDefined) Seq("columnMapping") else Nil)
    // a LEGACY protocol's version-implied grants must survive the jump to
    // feature-listing versions too (spec's upgrade rule)
    val (legacyR, legacyW) = legacyImpliedFeatures(snap.protocol)
    val readerFeatures = (snap.protocol.readerFeatures ++ legacyR ++ newFeatures).distinct
    val writerFeatures = (snap.protocol.writerFeatures ++ legacyW ++ newFeatures ++
      (if (snap.cdfEnabled) Seq("changeDataFeed") else Nil)).distinct
    // emit the protocol action ONLY when it grants something the log does
    // not already declare: a restated-but-identical protocol would make
    // every commit losing the version race to a routine DV DELETE fail
    // with a spurious ProtocolChangedException (the conflict checker keys
    // on the action's presence, as delta-spark's does)
    val protocolActions =
      if (readerFeatures.forall(snap.protocol.readerFeatures.contains) &&
          writerFeatures.forall(snap.protocol.writerFeatures.contains)) Nil
      else Seq(LakeWrite.deltaProtocolWithFeatures(readerFeatures, writerFeatures))
    val cdc = changeRows.toSeq.flatMap(stageChangeFiles(_, dir, snap))
    val newAdds = appendRows.toSeq.flatMap { rows =>
      val (physical, physParts) = toPhysical(align(rows, snap.schema), snap)
      writeDataFiles(physical, dir, physParts, "")
        .map(f => LakeWrite.deltaAdd(f.relPath, f.size, now, f.partitionValues,
          stats = f.statsJson))
    }
    // delta-spark's DV rewrite emits remove+add PAIRS for each re-vectored
    // file (the protocol's read-modify-write spelling; replay is
    // line-ordered so the re-add wins). Beyond fidelity this is what makes
    // conflict checking sound: an add-only DV commit would classify as a
    // BLIND append and race past a concurrent DV rewrite of the same file,
    // silently dropping one side's deletes — with the pair, same-file
    // DV/DV races surface as delete/delete.
    val dvRemoves = descs.map { case (fid, _, _, _, _) => LakeWrite.deltaRemove(fid, now) }
    commitDeltaWithCrc(spark, dir, snap.version + 1,
      Seq(LakeWrite.deltaCommitInfo(now, operation)) ++ protocolActions ++
        cdc ++ dvRemoves.toSeq ++ adds.toSeq ++ newAdds, readScope,
      base = Some(snap))
  }

  /** Metadata-only ALTER commit: a new version whose metaData action
    * carries the updated schema/configuration (id, partitioning untouched).
    */
  def deltaAlter(spark: SparkSession, dir: Path,
      transform: DeltaLite.Snapshot => (StructType, Map[String, String])): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = DeltaLite.snapshot(spark, dir)
    val (newSchema, newConfig) = transform(snap)
    val now = System.currentTimeMillis()
    // SET TBLPROPERTIES enabling a gated feature must upgrade the protocol
    // in the same commit — as a UNION with everything the table state
    // already relies on (live deletion vectors / column mapping), so a
    // later ALTER can never downgrade a declared feature
    val (readerNew, writerNew) = impliedFeatures(newConfig)
    val stateFeatures =
      (if (snap.dvs.nonEmpty) Seq("deletionVectors") else Nil) ++
        (if (snap.physSchema.isDefined) Seq("columnMapping") else Nil)
    // emit a protocol action only when the ALTER introduces a feature not
    // already covered (declared in the log, or implied by the pre-ALTER
    // configuration); the decision looks at what's NEEDED, so a plain
    // property ALTER on a legacy-versioned table never force-upgrades it
    val needR = (readerNew ++ stateFeatures).distinct
    val needW = (writerNew ++ stateFeatures).distinct
    val (readerOld, writerOld) = impliedFeatures(snap.configuration)
    val coveredR = snap.protocol.readerFeatures.toSet ++ readerOld ++ stateFeatures
    val coveredW = snap.protocol.writerFeatures.toSet ++ writerOld ++ stateFeatures
    val protocolUpgrade =
      if (needR.forall(coveredR) && needW.forall(coveredW)) Nil
      else {
        // the EMITTED action unions the declared lists, what a LEGACY
        // protocol's versions implied (the spec's upgrade rule: jumping to
        // 3/7 must list the old grants — invariants, checkConstraints, ...)
        // and the newly needed features
        val (legacyR, legacyW) = legacyImpliedFeatures(snap.protocol)
        Seq(LakeWrite.deltaProtocolFeatures(
          (snap.protocol.readerFeatures ++ legacyR ++ needR).distinct,
          (snap.protocol.writerFeatures ++ legacyW ++ needW).distinct))
      }
    commitDeltaWithCrc(spark, dir, snap.version + 1,
      Seq(LakeWrite.deltaCommitInfo(now)) ++ protocolUpgrade ++ Seq(
      LakeWrite.deltaMetaData(
        if (snap.metaId.nonEmpty) snap.metaId else java.util.UUID.randomUUID().toString,
        newSchema, snap.partitionColumns, newConfig)), base = Some(snap))
  }

  /** Stage CDF change rows (table columns + `_change_type`) as
    * `_change_data/` parquet and return their cdc actions. Physical-name
    * mapping applies to the data columns; `_change_type` is stored
    * literally (the protocol never maps it).
    */
  private def stageChangeFiles(changeRows: DataFrame, dir: Path,
      snap: DeltaLite.Snapshot): Seq[String] = {
    val ct = DeltaLite.CdfTypeCol
    require(changeRows.columns.contains(ct), s"change rows need a $ct column")
    val aligned = changeRows.select(snap.schema.fields.toIndexedSeq.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)) :+ col(s"`$ct`"): _*)
    val (physical, physParts) = snap.physSchema match {
      case None => (aligned, snap.partitionColumns)
      case Some(ps) =>
        (aligned.select(snap.schema.fields.zip(ps.fields).toIndexedSeq.map {
          case (lf, pf) => col(s"`${lf.name}`").cast(pf.dataType).as(pf.name)
        } :+ col(s"`$ct`"): _*),
          snap.partitionColumns.map(c => ps.fields(snap.schema.fieldIndex(c)).name))
    }
    writeDataFiles(physical, dir, physParts, "_change_data")
      .map(f => LakeWrite.deltaCdc(f.relPath, f.size, f.partitionValues))
  }

  /** Row-level copy-on-write commit: `removedIds` (raw add-action paths)
    * leave, `replacement` rows enter, one atomic commit. The snapshot the
    * rewrite was planned against is passed in so the remove set and the
    * version base agree with what was scanned. `changeRows` (table columns
    * + `_change_type`) ride along as `_change_data/` files + cdc actions —
    * the CDF write half of the protocol; `dataChange = false` marks a
    * byte-motion-only commit (OPTIMIZE), which the feed skips entirely.
    */
  def deltaRewrite(spark: SparkSession, dir: Path, snap: DeltaLite.Snapshot,
      removedIds: Seq[String], replacement: DataFrame,
      changeRows: Option[DataFrame] = None, dataChange: Boolean = true,
      operation: String = null,
      readScope: Option[DeltaReadScope] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (physical, physParts) = toPhysical(align(replacement, snap.schema), snap)
    val now = System.currentTimeMillis()
    val staged = writeDataFiles(physical, dir, physParts, "")
    val adds = staged.map(f =>
      LakeWrite.deltaAdd(f.relPath, f.size, now, f.partitionValues, dataChange,
        stats = f.statsJson))
    val removes = removedIds.map(p =>
      if (dataChange) LakeWrite.deltaRemove(p, now)
      else LakeWrite.deltaRemoveNoDataChange(p, now))
    val cdc = changeRows.toSeq.flatMap(stageChangeFiles(_, dir, snap))
    commitDeltaWithCrc(spark, dir, snap.version + 1,
      Seq(LakeWrite.deltaCommitInfo(now, operation)) ++ cdc ++ removes ++ adds,
      readScope, base = Some(snap))
  }

  /** One add action's conflict-relevant content: the path plus what
    * predicate scoping evaluates — partition values and the stats JSON —
    * and the action's dataChange flag (a compaction's dataChange=false
    * re-add moves bytes, not rows, and is exempt from the concurrent-
    * append check; its paired remove still runs removeConflicts).
    */
  private[lake] final case class AddInfo(path: String,
      partitionValues: Map[String, String], stats: Option[String],
      dataChange: Boolean)

  /** What a Delta commit's actions touch — the inputs to conflict
    * checking against commits that win the version race.
    */
  private final case class DeltaActs(adds: Seq[AddInfo], removes: Set[String],
      meta: Boolean, protocol: Boolean, txnApps: Set[String]) {
    def addPaths: Set[String] = adds.map(_.path).toSet
  }

  private def classifyDelta(lines: Seq[String]): DeltaActs = {
    var adds = Vector.empty[AddInfo]; var removes = Set.empty[String]
    var meta = false; var protocol = false; var txns = Set.empty[String]
    lines.foreach { l =>
      val j = JsonMethods.parse(l)
      (j \ "add" \ "path") match {
        case JString(p) =>
          val parts = (j \ "add" \ "partitionValues") match {
            case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          }
          val stats = (j \ "add" \ "stats") match {
            case JString(s) => Some(s); case _ => None
          }
          val dc = (j \ "add" \ "dataChange") match {
            case JBool(b) => b; case _ => true // absent = conservative
          }
          adds :+= AddInfo(p, parts, stats, dc)
        case _ => ()
      }
      (j \ "remove" \ "path") match { case JString(p) => removes += p; case _ => () }
      if ((j \ "metaData") != JNothing) meta = true
      if ((j \ "protocol") != JNothing) protocol = true
      (j \ "txn" \ "appId") match { case JString(a) => txns += a; case _ => () }
    }
    DeltaActs(adds, removes, meta, protocol, txns)
  }

  /** Predicate-scoped read set of a Delta transaction — delta-spark
    * ConflictChecker's narrowing of ConcurrentAppend / ConcurrentDeleteRead:
    * a winner's ADD conflicts only when the added file MAY contain rows
    * matching what this transaction read; a winner's REMOVE only when it
    * took a file the transaction read exactly ([[readFiles]]) or one its
    * predicates may have matched (judged against the pre-race snapshot's
    * per-file partition values + stats in [[snapshotInfo]]). Evaluation is
    * driver-side through the same [[GraftLakeBridge.StatsSkipping]]
    * evaluator scan-time file pruning uses — `may match` (conflict)
    * whenever anything is unknown, so the narrowing is never unsafe. On
    * column-mapping tables stats keys and partition-value keys carry each
    * field's PHYSICAL name while predicates carry logical ones:
    * [[physSchema]] (field-aligned with [[schema]]) resolves the rename,
    * so cmap tables get the same narrowing as plain ones.
    */
  private[lake] final case class DeltaReadScope(
      readWholeTable: Boolean,
      predicates: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      schema: StructType,
      partitionCols: Seq[String],
      readFiles: Set[String],
      snapshotInfo: Map[String, (Map[String, String], Option[String])],
      physSchema: Option[StructType]) {

    // top-level physical → logical rename (identity when mapping is off);
    // nested fields never need it — the stats evaluator only judges
    // top-level AttributeReference predicates
    private val physToLogical: Map[String, String] =
      physSchema.map(_.fieldNames.zip(schema.fieldNames).toMap).getOrElse(Map.empty)
    private val logicalToPhys: Map[String, String] = physToLogical.map(_.swap)

    private def mayMatch(partVals: Map[String, String],
        statsJson: Option[String]): Boolean = {
      def logicalKeys[T](m: Map[String, T]): Map[String, T] =
        if (physToLogical.isEmpty) m
        else m.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
      val base0 = statsJson
        .flatMap(DeltaLite.parseStats(_, physSchema.getOrElse(schema)))
        .getOrElse(org.apache.spark.sql.GraftLakeBridge.FileStats(
          None, Map.empty, Map.empty, Map.empty))
      val base = base0.copy(min = logicalKeys(base0.min),
        max = logicalKeys(base0.max), nullCount = logicalKeys(base0.nullCount))
      // a file's partition values are exact per-column bounds: min = max =
      // the (typed) value, null count 0 — absent (null) values contribute
      // nothing and stay conservative
      val partTyped: Map[String, Any] = partitionCols.flatMap { pc =>
        for {
          f <- schema.fields.find(_.name == pc)
          raw <- partVals.get(logicalToPhys.getOrElse(pc, pc))
          v <- scala.util.Try(DeltaLite.parsePartitionValue(raw, f.dataType)).toOption
        } yield pc -> v
      }.toMap
      val st = base.copy(
        min = base.min ++ partTyped,
        max = base.max ++ partTyped,
        nullCount = base.nullCount ++ partTyped.keys.map(_ -> 0L))
      org.apache.spark.sql.GraftLakeBridge.StatsSkipping
        .mayMatch(predicates, Some(st), schema)
    }

    /** Would a winner's add of this file change what the transaction
      * read? dataChange=false adds (a compaction re-registering the same
      * rows in new files) never do — delta-spark exempts them from the
      * concurrent-append check; the compaction's paired removes still run
      * [[removeConflicts]].
      */
    def addConflicts(a: AddInfo): Boolean =
      a.dataChange && (readWholeTable ||
        (predicates.nonEmpty && mayMatch(a.partitionValues, a.stats)))

    /** Would a winner's remove of this file change what the transaction
      * read? Unknown paths (added after our snapshot) conflict.
      */
    def removeConflicts(path: String): Boolean =
      readWholeTable || readFiles.contains(path) ||
        (predicates.nonEmpty && snapshotInfo.get(path).forall {
          case (pv, st) => mayMatch(pv, st)
        })
  }

  private def readCommitLines(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Atomic commit: create `%020d.json` with overwrite=false; on collision
    * (a concurrent writer won the version) re-validate against the winning
    * commit — delta-spark's ConflictChecker contract — and either retry at
    * the next version or surface the most specific conflict:
    *
    *  - the winner changed protocol or metadata → always a conflict (even
    *    for blind appends: the append was encoded under the old schema);
    *  - the winner recorded the same txn appId → the idempotency token is
    *    spent, replaying would double the batch;
    *  - a blind append (no removes, no metadata) reads nothing else and
    *    retries past any data-only winner;
    *  - a remove-carrying commit was planned against the pre-race
    *    snapshot: a winner deleting the same file is delete/delete, a
    *    winner deleting a file this commit re-adds (DV rewrite) is
    *    delete/read. With a [[DeltaReadScope]] the remaining checks narrow
    *    to delta-spark's actual contract — a winner's other removes and
    *    adds conflict only when they overlap what this transaction READ
    *    (its matched files / its predicates judged against partition
    *    values + stats); disjoint traffic retries and commits. Without a
    *    scope the conservative form applies: any winner remove is
    *    delete/read, any winner add is concurrent-append.
    *
    * Data files are content-addressed by job UUID, so a retried commit
    * re-points the SAME files — no data rewrite on contention.
    */
  /** [[commitDelta]] plus the version-checksum sidecar: after the commit
    * lands, the post-commit state (file count + total bytes at the LANDED
    * version — retries may move it) is recorded as `<version>.crc`, the
    * same advisory artifact delta-spark writes and validates on replay.
    */
  private def commitDeltaWithCrc(spark: SparkSession, dir: Path, firstVersion: Long,
      actions: Seq[String], readScope: Option[DeltaReadScope] = None,
      base: Option[DeltaLite.Snapshot] = None): Unit = {
    val v = commitDelta(spark.sparkContext.hadoopConfiguration, dir, firstVersion,
      actions, readScope)
    // `base` lets the crc state compute incrementally (pre-commit snapshot
    // + this commit's actions) instead of a full log replay per commit; a
    // retry that landed past firstVersion invalidates it → replay fallback
    DeltaLite.writeVersionChecksum(spark, dir, v, base, actions)
  }

  /** @return the version the commit actually landed at (>= firstVersion
    *         after blind-append retries past winners)
    */
  private[lake] def commitDelta(conf: Configuration, tableDir: Path, firstVersion: Long,
      actions: Seq[String], readScope: Option[DeltaReadScope] = None): Long = {
    val log = new Path(tableDir, "_delta_log")
    val fs = log.getFileSystem(conf)
    fs.mkdirs(log)
    val ours = classifyDelta(actions)
    // "blind" = writes without reading: no removes, no metadata/protocol
    // change, AND no read tracking. A scope-carrying adds-only commit (an
    // insert-only MERGE matched against existing rows) is NOT blind — its
    // correctness depends on what it read, so it must still judge a
    // winner's adds/removes against its scope (delta-spark throws
    // ConcurrentAppendException for two same-key insert-only merges).
    val blindAppend =
      ours.removes.isEmpty && !ours.meta && !ours.protocol && readScope.isEmpty
    var v = firstVersion
    var attempts = 0
    while (attempts < 10) {
      val file = new Path(log, f"$v%020d.json")
      if (graft.model.AtomicFile.atomicCreate(fs, file, (actions.mkString("\n") + "\n").getBytes("UTF-8")))
        return v
      val winner = classifyDelta(readCommitLines(fs, file))
      val t = tableDir.toString
      if (winner.protocol) throw new LakeConcurrency.ProtocolChangedException(t, v)
      if (winner.meta) throw new LakeConcurrency.MetadataChangedException(t, v)
      (winner.txnApps intersect ours.txnApps).headOption.foreach(a =>
        throw new LakeConcurrency.ConcurrentTransactionException(t, v, a))
      if (!blindAppend) {
        (winner.removes intersect ours.removes).headOption.foreach(p =>
          throw new LakeConcurrency.ConcurrentDeleteDeleteException(t, v, p))
        (winner.removes intersect ours.addPaths).headOption.foreach(p =>
          throw new LakeConcurrency.ConcurrentDeleteReadException(t, v, p))
        readScope match {
          case None =>
            // no read tracking: conservative (never unsafe); only
            // dataChange=true adds are appends (compaction re-adds exempt)
            winner.removes.headOption.foreach(p =>
              throw new LakeConcurrency.ConcurrentDeleteReadException(t, v, p))
            if (winner.adds.exists(_.dataChange))
              throw new LakeConcurrency.ConcurrentAppendException(t, v)
          case Some(sc) =>
            winner.removes.find(sc.removeConflicts).foreach(p =>
              throw new LakeConcurrency.ConcurrentDeleteReadException(t, v, p))
            if (winner.adds.exists(sc.addConflicts))
              throw new LakeConcurrency.ConcurrentAppendException(t, v)
        }
      }
      attempts += 1; v += 1
    }
    throw new java.io.IOException(s"could not commit to $log after 10 attempts")
  }

  /** VACUUM for Delta: delete every data/DV file under the table dir that
    * no RETAINED version references (the last `retainVersions` commits).
    * The log itself stays — exactly the real runtime's behavior, where
    * vacuumed time travel fails at data-read time, not at log-replay time.
    * Driver-side metadata work plus one FS walk, the same cost model as
    * `VACUUM` proper.
    *
    * Concurrent-writer guard: a file NEWER than the newest commit in the
    * log cannot be garbage from a retained version — it is either an
    * in-flight writer's staged data (its commit json has not landed yet)
    * or a racing commit's — so the walk never deletes it. This is the
    * version-count analogue of delta-spark's retention-duration check;
    * a writer that staged files BEFORE the last commit landed can still
    * lose them (same residual race the runtimes close with `RETAIN n
    * HOURS` — prefer that form under active concurrent writers).
    */
  def deltaVacuum(spark: SparkSession, dir: Path, retainVersions: Int): (Long, Long) = {
    require(retainVersions >= 1, s"must retain at least the current version")
    val latest = DeltaLite.snapshot(spark, dir).version
    // the guard compares against data files' FS modification times, so it
    // must come from the SAME clock domain: the newest _delta_log commit
    // file's FS mtime — NOT commitInfo timestamps, which carry the remote
    // writer's clock and, when running ahead of this filesystem, would
    // silently void the in-flight-writer protection
    val conf = spark.sparkContext.hadoopConfiguration
    val latestTs = DeltaLite.latestCommitFileMtime(conf, dir)
      .getOrElse(Long.MaxValue)
    deltaVacuumKeep(spark, dir,
      ((latest - retainVersions + 1) to latest).filter(_ >= 0), latestTs)
  }

  /** Age-based VACUUM (delta-spark's own `RETAIN n HOURS` form): retain
    * every version whose commit timestamp is within the window — the
    * current version always stays even when older than the cutoff.
    */
  def deltaVacuumHours(spark: SparkSession, dir: Path, hours: Int): (Long, Long) = {
    require(hours >= 0, "retention hours must be >= 0")
    val latest = DeltaLite.snapshot(spark, dir).version
    val cutoff = System.currentTimeMillis() - hours.toLong * 3600000L
    // timestamps only (leading commitInfo line / file mtime) — never the
    // full per-commit action parse history does
    val keep = DeltaLite.commitTimestamps(spark, dir)
      .collect { case (v, ts) if ts >= cutoff => v }
    // delta-spark's own contract: only files OLDER than the cutoff are
    // candidates, so an in-flight writer's freshly staged data survives
    deltaVacuumKeep(spark, dir, (keep :+ latest).distinct.sorted, cutoff)
  }

  private def deltaVacuumKeep(spark: SparkSession, dir: Path,
      keep: Seq[Long], mtimeGuard: Long): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    def qualify(p: Path): String = fs.makeQualified(p).toString
    val referenced: Set[String] = (keep.flatMap { v =>
      val snap = DeltaLite.snapshot(spark, dir, version = Some(v))
      snap.files.map(f => qualify(new Path(f.path))) ++
        snap.dvs.valuesIterator.flatMap(d =>
          RoaringDv.resolvePath(dir, d.storageType, d.pathOrInlineDv).map(qualify))
    } ++
      // CDF change files are reachable only through cdc actions (replay
      // ignores them) — without this, vacuum deletes the feed's bytes for
      // versions whose CDF reads are still in the retention window
      DeltaLite.cdcFilePaths(conf, dir, keep).map(p => qualify(new Path(p)))).toSet
    var n = 0L; var bytes = 0L
    // hidden files (".crc" checksums, "_"-prefixed markers) are sidecars
    // of their data file: the FS layer manages them, vacuum never should
    def hidden(p: Path): Boolean =
      p.getName.startsWith(".") || p.getName.startsWith("_")
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) {
        if (st.getPath.getName != "_delta_log") walk(st.getPath)
      } else if (!hidden(st.getPath) && !referenced.contains(qualify(st.getPath)) &&
          st.getModificationTime <= mtimeGuard) {
        n += 1; bytes += st.getLen
        fs.delete(st.getPath, false): Unit
      }
    }
    walk(dir)
    (n, bytes)
  }

  /** RESTORE to an earlier version (delta-spark's RESTORE TABLE): ONE
    * commit whose removes drop every file the target version does not
    * have and whose adds re-register the target's files — WITH their
    * deletion-vector state at that version, partition values, and stats —
    * plus a metaData action when the schema/configuration differed. File
    * identity for the diff is (path, DV descriptor): a path live on both
    * sides but under a different vector re-registers with the TARGET's.
    * History stays intact (time travel still reaches the undone
    * versions); the protocol is never downgraded (no protocol action).
    * Returns (files re-added, files removed).
    */
  def deltaRestore(spark: SparkSession, dir: Path, version: Long): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = DeltaLite.snapshot(spark, dir)
    require(version < cur.version,
      s"RESTORE target $version must precede the current version ${cur.version}")
    val tgt = DeltaLite.snapshot(spark, dir, version = Some(version))
    val now = System.currentTimeMillis()
    def keys(s: DeltaLite.Snapshot): Map[String, Option[DeltaLite.DvDescriptor]] =
      s.fileIds.map(id => id -> s.dvs.get(id)).toMap
    val curKeys = keys(cur); val tgtKeys = keys(tgt)
    val removeIds = cur.fileIds.filter(id => tgtKeys.get(id) != Some(curKeys(id)))
    val addIds = tgt.fileIds.filter(id => curKeys.get(id) != Some(tgtKeys(id)))
    val physPartNames = tgt.physPartitionSchema.fieldNames
    val byId = tgt.fileIds.zip(tgt.files).toMap
    def rawParts(f: org.apache.spark.sql.GraftLakeBridge.LakeFile): Map[String, String] =
      physPartNames.zip(f.partitionValues).collect {
        case (k, v) if v != null => k -> v.toString
      }.toMap
    // delta-spark's RESTORE validation: every file the restore re-adds
    // (and its DV file) must still exist — a VACUUMed target version would
    // otherwise commit adds referencing deleted files, leaving the CURRENT
    // state unreadable. Fail before writing anything. Existence checks are
    // BATCHED: one listStatus per distinct parent directory instead of one
    // exists() RPC per file (a wide restore on an object store would
    // otherwise pay per-file HEAD latency serially on the driver).
    val fs = dir.getFileSystem(conf)
    val toCheck: Seq[(String, Path)] = addIds.map(id => id -> new Path(dir, id)) ++
      addIds.flatMap(id => tgt.dvs.get(id)
        .flatMap(d => RoaringDv.resolvePath(dir, d.storageType, d.pathOrInlineDv))
        .map(p => p.toString -> p))
    val present: Set[(String, String)] =
      toCheck.map(_._2.getParent).distinct.flatMap { parent =>
        try fs.listStatus(parent).map(st => parent.toString -> st.getPath.getName).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      }.toSet
    val missing = toCheck.collect {
      case (label, p) if !present.contains((p.getParent.toString, p.getName)) => label
    }
    require(missing.isEmpty,
      s"RESTORE to version $version needs ${missing.size} file(s) that no longer " +
        s"exist (VACUUMed?): ${missing.take(5).mkString(", ")}" +
        (if (missing.size > 5) ", …" else "") +
        " — restore to a newer version or re-create the table")
    val removes = removeIds.map(LakeWrite.deltaRemove(_, now))
    val adds = addIds.map { id =>
      val f = byId(id)
      tgt.dvs.get(id) match {
        case Some(d) => LakeWrite.deltaAddDv(id, f.size, now, rawParts(f),
          d.storageType, d.pathOrInlineDv,
          Some(d.offset).filter(_ => d.storageType != "i"), d.sizeInBytes, d.cardinality,
          stats = tgt.statsJson.get(id))
        case None => LakeWrite.deltaAdd(id, f.size, now, rawParts(f),
          stats = tgt.statsJson.get(id))
      }
    }
    val metaRestore =
      if (tgt.schema == cur.schema && tgt.configuration == cur.configuration &&
        tgt.partitionColumns == cur.partitionColumns) Nil
      else Seq(LakeWrite.deltaMetaData(
        if (tgt.metaId.nonEmpty) tgt.metaId else cur.metaId,
        tgt.schema, tgt.partitionColumns, tgt.configuration))
    commitDeltaWithCrc(spark, dir, cur.version + 1,
      Seq(LakeWrite.deltaCommitInfo(now, operation = "RESTORE")) ++
        metaRestore ++ removes ++ adds, base = Some(cur))
    (addIds.size.toLong, removeIds.size.toLong)
  }

  /** RESTORE ... TO TIMESTAMP (delta-spark's `RESTORE ... TIMESTAMP AS OF`):
    * resolves the latest commit at-or-before the timestamp through the same
    * rule time travel uses, then restores to that version. Restoring to
    * the current version is a no-op (0, 0) — nothing to rewrite.
    */
  def deltaRestoreToTimestamp(spark: SparkSession, dir: Path, tsMs: Long): (Long, Long) = {
    val v = DeltaLite.snapshot(spark, dir, timestampMs = Some(tsMs)).version
    val cur = DeltaLite.snapshot(spark, dir).version
    if (v == cur) (0L, 0L) else deltaRestore(spark, dir, v)
  }

  /** Iceberg `rollback_to_timestamp`: the target is the latest snapshot-log
    * entry at-or-before the timestamp (the log, not the snapshot list — a
    * prior rollback's truncation governs what a timestamp reaches). No-op
    * (0, 0) when that entry is already current.
    */
  def icebergRollbackToTimestamp(spark: SparkSession, dir: Path, tsMs: Long): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    val eligible = m.snapshotLog.filter(_._1 <= tsMs)
    require(eligible.nonEmpty, s"no Iceberg snapshot at or before timestamp $tsMs")
    // same-millisecond entries: the later (append-order) entry wins
    val target = eligible.zipWithIndex.maxBy { case ((t, _), i) => (t, i) }._1._2
    if (target == m.currentId) (0L, 0L) else icebergRollback(spark, dir, target)
  }

  /** Iceberg rollback (`rollback_to_snapshot`): a new metadata version
    * whose current-snapshot-id and main ref point at the target ancestor —
    * the snapshot list, sequence numbers, and data all stay (time travel
    * BY ID still reaches the undone snapshots; the next commit parents off
    * the target). The snapshot-log follows iceberg-core's
    * `rollback_to_snapshot`: entries newer than the rollback point are
    * dropped (the spec's invalidated-entry rule) and a fresh
    * (now, targetSnapshotId) entry is appended, so `TIMESTAMP AS OF` after
    * the rollback resolves to the restored state, not the undone one.
    * Returns the file-set delta vs the pre-rollback current
    * (files re-surfaced, files hidden).
    */
  def icebergRollback(spark: SparkSession, dir: Path, snapshotId: Long): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.priorSnapshots.exists(_.id == snapshotId),
      s"snapshot $snapshotId not found in $dir")
    require(snapshotId != m.currentId, "already at the requested snapshot")
    val before = IcebergLite.snapshot(spark, dir).dataFileMeta.map(_._1).toSet
    val tgtTs = m.priorSnapshots.find(_.id == snapshotId).get.timestampMs
    // iceberg-core truncates the snapshot-log by ENTRY POSITION (keep up
    // to and including the target's last entry), not by timestamp: entries
    // sharing the target's millisecond but appended after it are
    // invalidated too, so post-rollback TIMESTAMP AS OF can never resolve
    // to an undone snapshot. Timestamp comparison is only the fallback for
    // a target with no log entry (e.g. imported metadata).
    val lastIdx = m.snapshotLog.lastIndexWhere(_._2 == snapshotId)
    val keptLog =
      if (lastIdx >= 0) m.snapshotLog.take(lastIdx + 1)
      else m.snapshotLog.filter(_._1 <= tgtTs)
    // keep the log monotone even under clock skew
    val now = math.max(System.currentTimeMillis(),
      (m.snapshotLog.map(_._1) :+ 0L).max)
    LakeWrite.icebergWriteMetadata(conf, dir, (m.metaVersion + 1).toInt, m.schema,
      m.priorSnapshots, currentSnapshotId = snapshotId,
      refs = Map("main" -> (snapshotId, "branch")),
      specFields = specFieldsFor(m.schema, m.partitionCols, m.fieldIds),
      properties = m.properties,
      schemasJson = m.schemasJson, currentSchemaId = m.currentSchemaId,
      lastColumnId = m.lastColumnId,
      snapshotLog = keptLog :+ ((now, snapshotId)),
      failIfExists = true)
    val after = IcebergLite.snapshot(spark, dir).dataFileMeta.map(_._1).toSet
    ((after -- before).size.toLong, (before -- after).size.toLong)
  }

  /** Snapshot expiry + orphan cleanup for Iceberg: keep the last
    * `retainSnapshots` snapshots (always including the current one), write
    * a new metadata version whose snapshot list holds only those, and
    * delete (a) data/delete files no retained snapshot references and
    * (b) manifest / manifest-list Avro files only expired snapshots used.
    * This is `expire_snapshots` + `remove_orphan_files` in one pass, the
    * maintenance the spec expects of table operators.
    */
  def icebergExpire(spark: SparkSession, dir: Path, retainSnapshots: Int): (Long, Long) = {
    require(retainSnapshots >= 1, s"must retain at least the current snapshot")
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.currentId >= 0, s"no snapshots to expire under $dir")
    val ordered = m.priorSnapshots.sortBy(_.sequenceNumber)
    val retained = ordered.takeRight(retainSnapshots)
    require(retained.exists(_.id == m.currentId),
      s"retention window must include the current snapshot (retain >= " +
        s"${ordered.size - ordered.indexWhere(_.id == m.currentId)})")
    // files newer than the newest COMMIT cannot be expired snapshots'
    // garbage — they are an in-flight writer's staged data. The guard
    // compares against data files' FS modification times, so it must come
    // from the same clock domain: the current metadata file's FS mtime,
    // NOT snapshot timestampMs (the remote writer's clock — running ahead
    // of this filesystem it would silently void the protection)
    val mtimeGuard = scala.util.Try(dir.getFileSystem(conf)
      .getFileStatus(IcebergLite.currentMetadataFile(conf, dir))
      .getModificationTime).getOrElse(Long.MaxValue)
    icebergExpireRetained(spark, dir, m, retained, mtimeGuard)
  }

  /** Age-based expiry (Iceberg's `expire_snapshots(older_than)` shape):
    * retain every snapshot committed within the window; the CURRENT
    * snapshot always stays even when older than the cutoff.
    */
  def icebergExpireHours(spark: SparkSession, dir: Path, hours: Int): (Long, Long) = {
    require(hours >= 0, "retention hours must be >= 0")
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.currentId >= 0, s"no snapshots to expire under $dir")
    val cutoff = System.currentTimeMillis() - hours.toLong * 3600000L
    val retained = m.priorSnapshots.sortBy(_.sequenceNumber)
      .filter(sn => sn.timestampMs >= cutoff || sn.id == m.currentId)
    // age-based contract: only files older than the window are candidates
    icebergExpireRetained(spark, dir, m, retained, cutoff)
  }

  private def icebergExpireRetained(spark: SparkSession, dir: Path,
      m: IceMeta, retained: Seq[LakeWrite.IcebergSnapshot],
      mtimeGuard: Long): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    def qualify(p: Path): String = fs.makeQualified(p).toString
    // every file any retained snapshot can reach: data + delete files via
    // its manifests, plus the manifest/list files themselves
    val refData = scala.collection.mutable.Set[String]()
    val refMeta = scala.collection.mutable.Set[String]()
    retained.foreach { s =>
      val listPath = IcebergLite.resolveUri(dir, s.manifestListPath)
      refMeta += qualify(listPath)
      readManifestFiles(conf, dir, listPath).foreach { mf =>
        val mp = IcebergLite.resolveUri(dir, mf.path)
        refMeta += qualify(mp)
        readAllEntryPaths(conf, mp).foreach(p =>
          refData += qualify(IcebergLite.resolveUri(dir, p)))
      }
    }
    var n = 0L; var bytes = 0L
    def drop(st: org.apache.hadoop.fs.FileStatus): Unit = {
      n += 1; bytes += st.getLen
      fs.delete(st.getPath, false): Unit
    }
    // orphaned data files (anything outside metadata/ no snapshot reaches);
    // hidden ".crc"/"_" sidecars belong to the FS layer, not to vacuum
    def hidden(p: Path): Boolean =
      p.getName.startsWith(".") || p.getName.startsWith("_")
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) { if (st.getPath.getName != "metadata") walk(st.getPath) }
      else if (!hidden(st.getPath) && !refData.contains(qualify(st.getPath)) &&
        st.getModificationTime <= mtimeGuard) drop(st)
    }
    walk(dir)
    // expired manifests / manifest lists (Avro only; metadata.json history
    // files are tiny and version-numbered, so they stay). The same
    // in-flight guard applies: a racing writer stages its UUID-named
    // manifests BEFORE publishing the metadata version that references
    // them, so unreferenced-but-new Avro files are not garbage
    fs.listStatus(new Path(dir, "metadata")).foreach { st =>
      if (!st.isDirectory && st.getPath.getName.endsWith(".avro") &&
        !refMeta.contains(qualify(st.getPath)) &&
        st.getModificationTime <= mtimeGuard) drop(st)
    }
    LakeWrite.icebergWriteMetadata(conf, dir, (m.metaVersion + 1).toInt, m.schema,
      retained, currentSnapshotId = m.currentId,
      refs = Map("main" -> (m.currentId, "branch")),
      specFields = specFieldsFor(m.schema, m.partitionCols, m.fieldIds),
      properties = m.properties,
      schemasJson = m.schemasJson, currentSchemaId = m.currentSchemaId,
      lastColumnId = m.lastColumnId,
      // spec: log entries whose snapshot expired are invalidated — drop them
      snapshotLog = m.snapshotLog.filter(e => retained.exists(_.id == e._2)),
      failIfExists = true)
    (n, bytes)
  }

  /** Every file_path any entry of one manifest mentions, regardless of
    * status — a DELETED entry's file may still be live in an older
    * retained snapshot, so expiry must treat every mention as a reference.
    */
  private def readAllEntryPaths(conf: Configuration, p: Path): Seq[String] = {
    val in = new org.apache.avro.mapred.FsInput(p, conf)
    val reader = org.apache.avro.file.DataFileReader.openReader(in,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val buf = Seq.newBuilder[String]
      while (reader.hasNext) {
        val df = reader.next().get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        buf += df.get("file_path").toString
      }
      buf.result()
    } finally reader.close()
  }

  // ---- Iceberg ----

  private val PrunableIdentityTypes: Set[DataType] =
    Set(IntegerType, LongType, StringType, BooleanType, FloatType, DoubleType)

  def icebergCreate(spark: SparkSession, dir: Path, schema: StructType,
      partitionCols: Seq[String], properties: Map[String, String] = Map.empty): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(!IcebergLite.isIcebergTable(conf, dir), s"Iceberg table already exists at $dir")
    partitionCols.foreach { c =>
      require(schema.fieldNames.contains(c), s"partition column $c not in schema")
      require(PrunableIdentityTypes.contains(schema(schema.fieldIndex(c)).dataType),
        s"identity partition column $c must be int/long/string/boolean/float/double " +
          "for this writer (values are served from manifest metadata)")
    }
    LakeWrite.icebergWriteMetadata(conf, dir, 1, schema, Nil, currentSnapshotId = -1L,
      specFields = specFieldsFor(schema, partitionCols), properties = properties,
      failIfExists = true)
    ()
  }

  // ---- in-place conversion of an existing parquet directory ----

  /** Walk `dir` for data parquet files (skipping any transaction-metadata
    * dirs), returning (relPath, size, rowCount, hive partition values).
    */
  private def discoverParquet(conf: Configuration, dir: Path,
      statsSchema: StructType = new StructType()): Seq[StagedFile] = {
    val fs = dir.getFileSystem(conf)
    val qBase = fs.makeQualified(dir).toString
    val out = Seq.newBuilder[StagedFile]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) {
        if (n != "_delta_log" && n != "metadata" && !n.startsWith("."))
          walk(st.getPath)
      } else if (n.endsWith(".parquet") && !n.startsWith(".")) {
        val rel = fs.makeQualified(st.getPath).toString.stripPrefix(qBase).stripPrefix("/")
        val (rows, stats) = parquetFooterInfo(conf, st.getPath, statsSchema)
        out += StagedFile(rel, st.getLen, rows, partitionDirValues(rel), stats)
      }
    }
    walk(dir)
    out.result()
  }

  /** CONVERT TO DELTA, the delta-spark operation's in-place shape: data
    * files stay EXACTLY where they are, one commit 0 registers them all
    * (protocol + metaData with the inferred schema and hive partition
    * columns + one add per file). Returns the file count.
    */
  def convertToDelta(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(!DeltaLite.isDeltaTable(conf, dir), s"$dir is already a Delta table")
    require(!IcebergLite.isIcebergTable(conf, dir), s"$dir is already an Iceberg table")
    val df = spark.read.parquet(dir.toString) // schema incl. hive partition cols
    val files = discoverParquet(conf, dir, df.schema)
    require(files.nonEmpty, s"no parquet files under $dir")
    val partCols = files.head.partitionValues.keys.toSeq.sorted
    val now = System.currentTimeMillis()
    commitDeltaWithCrc(spark, dir, 0L,
      Seq(LakeWrite.deltaCommitInfo(now, operation = "CONVERT"),
        LakeWrite.deltaProtocol(),
        LakeWrite.deltaMetaData(java.util.UUID.randomUUID().toString, df.schema, partCols)) ++
        files.map(f => LakeWrite.deltaAdd(f.relPath, f.size, now, f.partitionValues,
          stats = f.statsJson)))
    files.size.toLong
  }

  /** CONVERT TO ICEBERG (the migrate/snapshot procedures' in-place shape):
    * data files stay, metadata/ + one manifest register them as snapshot 1.
    * Hive partition dirs become identity-partition values served from the
    * manifest (the spec-correct read for files that omit the column).
    */
  def convertToIceberg(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(!DeltaLite.isDeltaTable(conf, dir), s"$dir is already a Delta table")
    require(!IcebergLite.isIcebergTable(conf, dir), s"$dir is already an Iceberg table")
    val files = discoverParquet(conf, dir)
    require(files.nonEmpty, s"no parquet files under $dir")
    val df = spark.read.parquet(dir.toString)
    val partCols = files.head.partitionValues.keys.toSeq.sorted
    icebergCreate(spark, dir, df.schema, partCols)
    val m = loadIceMeta(conf, dir)
    val snapId = newSnapshotId(m)
    val entrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(df.schema, partCols))
    val entries = files.map { f =>
      LakeWrite.ManifestEntry(1, f.relPath, f.rowCount, f.size, snapId,
        partition = typedPartVals(df.schema, partCols, f.partitionValues),
        sequenceNumber = Some(1L))
    }
    commitIceberg(conf, dir, m, entries, Nil, snapId, 1L, snapId, entrySchema)
    files.size.toLong
  }

  /** Spark-side footer stats (the Delta-shaped JSON staged files carry) to
    * Iceberg manifest bound maps keyed by field id (= schema index + 1,
    * the ids [[LakeWrite.icebergSchemaJson]] assigns).
    */
  private def entryBounds(statsJson: Option[String], schema: StructType,
      ids: Seq[Int] = Nil):
      (Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long]) =
    statsJson.flatMap(DeltaLite.parseStats(_, schema)) match {
      case None => (Map.empty, Map.empty, Map.empty)
      case Some(st) =>
        def idOf(i: Int): Int = if (ids.nonEmpty) ids(i) else i + 1
        def conv(m: Map[String, Any]): Map[Int, Array[Byte]] = m.flatMap { case (n, v) =>
          val i = schema.fieldNames.indexOf(n)
          if (i < 0) None else LakeWrite.icebergBoundBytes(v).map(b => idOf(i) -> b)
        }
        (conv(st.min), conv(st.max),
          st.nullCount.flatMap { case (n, c) =>
            val i = schema.fieldNames.indexOf(n)
            if (i < 0) None else Some(idOf(i) -> c)
          })
    }

  private def specFieldsFor(schema: StructType, partitionCols: Seq[String],
      ids: Seq[Int] = Nil): Seq[JObject] =
    partitionCols.zipWithIndex.map { case (c, i) =>
      val src = if (ids.nonEmpty) ids(schema.fieldIndex(c)) else schema.fieldIndex(c) + 1
      JObject("name" -> JString(c), "transform" -> JString("identity"),
        "source-id" -> JInt(src), "field-id" -> JInt(1000 + i))
    }

  /** The aligned frame re-tagged so Spark's parquet writer records each
    * column's Iceberg field id (`parquet.field.id` field metadata +
    * spark.sql.parquet.fieldId.write.enabled, on by default) — what makes
    * the files resolvable BY ID after a rename, per the Iceberg spec's
    * column-resolution rule.
    */
  private def withFieldIds(df: DataFrame, schema: StructType, ids: Seq[Int]): DataFrame =
    if (ids.isEmpty) df
    else df.select(schema.fields.zip(ids).map { case (f, id) =>
      col(s"`${f.name}`").as(f.name, new MetadataBuilder()
        .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong).build())
    }.toIndexedSeq: _*)

  /** Spec id delete manifests are written under: a partitioned table's
    * global delete files use the registered UNPARTITIONED spec (id 1).
    */
  private def deleteSpecId(m: IceMeta): Int = if (m.partitionCols.isEmpty) 0 else 1

  /** A fresh snapshot id: wall-clock, bumped past every existing snapshot
    * id — two commits in the same millisecond (a fast streaming sink's
    * back-to-back micro-batches) would otherwise collide on the id AND on
    * the metadata file names derived from it (m-/md-/ml-$id.avro),
    * overwriting the previous commit's manifests.
    */
  private def newSnapshotId(m: IceMeta): Long =
    math.max(System.currentTimeMillis(),
      m.priorSnapshots.map(_.id).maxOption.map(_ + 1L).getOrElse(Long.MinValue))

  /** Everything a commit needs from the current table metadata. Field ids
    * and the schema history ride along so every rewrite of the metadata
    * file PRESERVES them — ids are permanent in Iceberg (renames keep
    * them, drops retire them), and the history is what lets readers detect
    * evolutions that need id-based parquet resolution.
    */
  private[lake] final case class IceMeta(metaVersion: Long, schema: StructType,
      partitionCols: Seq[String], lastSeq: Long,
      priorSnapshots: Seq[LakeWrite.IcebergSnapshot], currentId: Long,
      properties: Map[String, String] = Map.empty,
      /** top-level field ids aligned with schema.fields (positional 1..n
        * for metadata predating explicit ids)
        */
      fieldIds: Seq[Int] = Nil,
      /** the metadata's full schemas array, verbatim */
      schemasJson: List[JValue] = Nil,
      currentSchemaId: Int = 0,
      lastColumnId: Int = 0,
      /** snapshot-log (timestampMs, snapshotId), verbatim — TIMESTAMP AS OF
        * resolves through this, so commits append to it and rollback
        * truncates it (never regenerate from the snapshot list: that would
        * resurrect entries a rollback dropped)
        */
      snapshotLog: Seq[(Long, Long)] = Nil) {
    def idOf(col: String): Int = fieldIds(schema.fieldIndex(col))
  }

  private[lake] def loadIceMeta(conf: Configuration, dir: Path): IceMeta = {
    implicit val formats: Formats = DefaultFormats
    val metaFile = IcebergLite.currentMetadataFile(conf, dir)
    val meta = JsonMethods.parse(IcebergLite.readString(conf, metaFile))
    val metaVersion = """^v?(\d+)\.metadata\.json$""".r.findFirstMatchIn(metaFile.getName)
      .map(_.group(1).toLong).getOrElse(
        throw new UnsupportedOperationException(
          s"commit needs a versioned hadoop-table metadata file, got ${metaFile.getName}"))
    val allSchemas: List[JValue] = (meta \ "schemas") match {
      case JArray(ss) => ss
      case _ => List(meta \ "schema")
    }
    val curSchemaId = (meta \ "current-schema-id").extractOrElse[Int](0)
    val schemaJson: JValue = allSchemas
      .find(s => (s \ "schema-id").extractOrElse[Int](0) == curSchemaId)
      .getOrElse(throw new IllegalStateException(
        s"Iceberg metadata under $dir declares current-schema-id $curSchemaId " +
          "but no schema carries that id — refusing to guess (a commit built " +
          "on the wrong generation would corrupt the table)"))
    val schema = IcebergLite.toSparkType(schemaJson).asInstanceOf[StructType]
    val fieldIds: Seq[Int] = (schemaJson \ "fields") match {
      case JArray(fs) => fs.zipWithIndex.map { case (f, i) =>
        (f \ "id") match { case JInt(id) => id.toInt; case _ => i + 1 }
      }
      case _ => schema.indices.map(_ + 1)
    }
    val lastColId = (meta \ "last-column-id").extractOrElse[Int](
      fieldIds.maxOption.getOrElse(0))
    val partitionCols: Seq[String] = (meta \ "partition-specs") match {
      case JArray(specs) =>
        val defId = (meta \ "default-spec-id").extractOrElse[Int](0)
        specs.find(s => (s \ "spec-id").extractOrElse[Int](0) == defId)
          .map(s => (s \ "fields") match {
            case JArray(fs) => fs.collect {
              case f if (f \ "transform") == JString("identity") => (f \ "name").extract[String]
            }
            case _ => Nil
          }).getOrElse(Nil)
      case _ => Nil
    }
    val priorSnapshots: Seq[LakeWrite.IcebergSnapshot] = (meta \ "snapshots") match {
      case JArray(ss) => ss.map(s => LakeWrite.IcebergSnapshot(
        (s \ "snapshot-id").extract[Long], (s \ "timestamp-ms").extract[Long],
        (s \ "manifest-list").extract[String], (s \ "sequence-number").extractOrElse[Long](0L),
        parentId = (s \ "parent-snapshot-id") match {
          case JInt(p) => Some(p.toLong)
          case _ => None
        },
        operation = (s \ "summary" \ "operation").extractOrElse[String]("append"),
        extraSummary = (s \ "summary") match {
          case JObject(kv) => kv.collect {
            case (k, JString(v)) if k != "operation" => k -> v
          }.toMap
          case _ => Map.empty
        },
        schemaId = (s \ "schema-id").extractOrElse[Int](0)))
      case _ => Nil
    }
    IceMeta(metaVersion, schema, partitionCols,
      (meta \ "last-sequence-number").extractOrElse[Long](0L),
      priorSnapshots, (meta \ "current-snapshot-id").extractOrElse[Long](-1L),
      properties = (meta \ "properties") match {
        case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      },
      fieldIds = fieldIds, schemasJson = allSchemas,
      currentSchemaId = curSchemaId, lastColumnId = math.max(lastColId,
        fieldIds.maxOption.getOrElse(0)),
      snapshotLog = (meta \ "snapshot-log") match {
        case JArray(es) => es.map(e =>
          ((e \ "timestamp-ms").extract[Long], (e \ "snapshot-id").extract[Long]))
        case _ => priorSnapshots.map(s => (s.timestampMs, s.id))
      })
  }

  private def partTypeJsonFor(schema: StructType, partitionCols: Seq[String]): String =
    if (partitionCols.isEmpty) """{"type":"record","name":"r102","fields":[]}"""
    else {
      val fields = partitionCols.zipWithIndex.map { case (c, i) =>
        val avroType = schema(schema.fieldIndex(c)).dataType match {
          case IntegerType => "\"int\""
          case LongType => "\"long\""
          case StringType => "\"string\""
          case BooleanType => "\"boolean\""
          case FloatType => "\"float\""
          case DoubleType => "\"double\""
          case other => throw new UnsupportedOperationException(s"partition type $other")
        }
        s"""{"name":"$c","type":["null",$avroType],"default":null,"field-id":${1000 + i}}"""
      }
      s"""{"type":"record","name":"r102","fields":[${fields.mkString(",")}]}"""
    }

  /** Hive-style partition dir strings -> typed manifest partition values. */
  private def typedPartVals(schema: StructType, partitionCols: Seq[String],
      raw: Map[String, String]): Map[String, Any] =
    partitionCols.flatMap { c =>
      raw.get(c).map { v =>
        c -> (schema(schema.fieldIndex(c)).dataType match {
          case IntegerType => Integer.valueOf(v.toInt)
          case LongType => java.lang.Long.valueOf(v.toLong)
          case StringType => (v: Any)
          case BooleanType => java.lang.Boolean.valueOf(v.toBoolean)
          case FloatType => java.lang.Float.valueOf(v.toFloat)
          case DoubleType => java.lang.Double.valueOf(v.toDouble)
          case other => throw new UnsupportedOperationException(s"partition type $other")
        })
      }
    }.toMap

  /** Write one manifest + manifest list + next metadata version. Manifests
    * write to a local temp then copy to the table FS (the Avro fixture
    * writer is java.io-based; the copy keeps any FS supported).
    */
  /** One snapshot commit: manifest + manifest list + next metadata
    * version, the last written create-no-overwrite. Losing the version
    * race throws CommitFailedException; when `rebaseAppend` is set (pure
    * appends — the only operation whose result is independent of the
    * winner's changes) the commit reloads the winner's metadata, re-keys
    * the new entries to a fresh snapshot id / sequence number, re-reads
    * the now-current manifest list, and retries — Iceberg's own
    * append-rebase contract.
    *
    * Non-append operations pass `rebase` instead — the mirror of
    * SnapshotProducer's validate-then-retry loop (Iceberg's runtime
    * behavior on a lost race, where HadoopTableOperations' low-level
    * CommitFailedException is caught and the snapshot RE-VALIDATES
    * against the winner): called with the winner's fresh metadata and the
    * retry's new snapshot id / sequence number, it either re-plans the
    * commit's (entries, other manifests) on top of the winner's state or
    * throws the most specific conflict (the loser's reads overlap the
    * winner's changes). A concurrent schema / partition-spec change
    * always fails — the staged files were encoded under the old shape.
    * With neither hook, the failure surfaces for an operation-level
    * re-run against fresh state.
    */
  private[lake] def commitIceberg(conf: Configuration, dir: Path, m0: IceMeta,
      entries0: Seq[LakeWrite.ManifestEntry], otherManifests0: Seq[LakeWrite.ManifestFile],
      newSnapId0: Long, newSeq0: Long, now0: Long,
      entrySchema: org.apache.avro.Schema, operation: String = "append",
      extraSummary: Map[String, String] = Map.empty,
      newManifestContent: Int = 0, newManifestSpecId: Int = 0,
      rebaseAppend: Boolean = false,
      rebase: Option[(IceMeta, Long, Long) =>
        (Seq[LakeWrite.ManifestEntry], Seq[LakeWrite.ManifestFile])] = None): Unit = {
    val fs = dir.getFileSystem(conf)
    def toMeta(local: java.io.File, name: String): Long = {
      val target = new Path(new Path(dir, "metadata"), name)
      fs.mkdirs(target.getParent)
      fs.copyFromLocalFile(true, true, new Path(local.getAbsolutePath), target)
      fs.getFileStatus(target).getLen
    }
    var m = m0; var entries = entries0; var otherManifests = otherManifests0
    var newSnapId = newSnapId0; var newSeq = newSeq0; var now = now0
    var attempts = 0
    while (true) {
      try {
        // UUID-suffixed names (Iceberg's own manifest naming): two
        // concurrent committers — or two rebase attempts — can land on
        // the same millisecond-derived snapshot id, and a shared name
        // would let the loser clobber the winner's COMMITTED manifests
        val attempt = java.util.UUID.randomUUID().toString
        val tmpM = java.io.File.createTempFile("graft-manifest", ".avro")
        val mLen = LakeWrite.icebergWriteManifest(tmpM, entries, entrySchema)
        toMeta(tmpM, s"m-$newSnapId-$attempt.avro")
        val tmpL = java.io.File.createTempFile("graft-mlist", ".avro")
        LakeWrite.icebergWriteManifestListEntries(tmpL,
          otherManifests :+ {
            val (a, e, d) = LakeWrite.manifestCounts(entries)
            LakeWrite.ManifestFile(s"metadata/m-$newSnapId-$attempt.avro", mLen,
              newManifestContent, newSeq, specId = newManifestSpecId,
              added = a, existing = e, deleted = d)
          },
          newSnapId)
        toMeta(tmpL, s"ml-$newSnapId-$attempt.avro")
        val newSnapshots = m.priorSnapshots :+
          LakeWrite.IcebergSnapshot(newSnapId, now, s"metadata/ml-$newSnapId-$attempt.avro", newSeq,
            parentId = Some(m.currentId).filter(_ >= 0), operation = operation,
            extraSummary = extraSummary, schemaId = m.currentSchemaId)
        LakeWrite.icebergWriteMetadata(conf, dir, (m.metaVersion + 1).toInt, m.schema, newSnapshots,
          currentSnapshotId = newSnapId,
          refs = Map("main" -> (newSnapId, "branch")),
          specFields = specFieldsFor(m.schema, m.partitionCols, m.fieldIds),
          properties = m.properties,
          schemasJson = m.schemasJson, currentSchemaId = m.currentSchemaId,
          lastColumnId = m.lastColumnId,
          // append to the carried log (never regenerate: a prior rollback's
          // truncation must survive subsequent commits); clamp to the log max
          // so a wall clock stepping backwards never breaks log monotonicity
          snapshotLog = m.snapshotLog :+
            ((math.max(now, (m.snapshotLog.map(_._1) :+ 0L).max), newSnapId)),
          failIfExists = true)
        return
      } catch {
        case e: LakeConcurrency.CommitFailedException =>
          attempts += 1
          if ((!rebaseAppend && rebase.isEmpty) || attempts >= 5) throw e
          val m2 = loadIceMeta(conf, dir)
          if (m2.currentSchemaId != m0.currentSchemaId || m2.partitionCols != m0.partitionCols)
            throw new LakeConcurrency.CommitFailedException(
              s"concurrent schema / partition-spec change under $dir — re-run the operation")
          m = m2
          newSeq = m2.lastSeq + 1
          newSnapId = newSnapshotId(m2)
          now = newSnapId
          if (rebaseAppend) {
            otherManifests = m2.priorSnapshots.find(_.id == m2.currentId).map { s =>
              readManifestFiles(conf, dir, IcebergLite.resolveUri(dir, s.manifestListPath))
            }.getOrElse(Nil)
            entries = entries0.map(_.copy(snapshotId = newSnapId, sequenceNumber = Some(newSeq)))
          } else {
            // validate against the winner, then re-plan on top of it —
            // throws the specific conflict when the reads overlap
            val (es, oms) = rebase.get(m2, newSnapId, newSeq)
            entries = es; otherManifests = oms
          }
      }
    }
  }

  def icebergInsert(spark: SparkSession, dir: Path, data: DataFrame, overwrite: Boolean,
      streamTxn: Option[(String, Long)] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    val newSeq = m.lastSeq + 1
    val newSnapId = newSnapshotId(m)
    val now = newSnapId
    val existingManifests: Seq[LakeWrite.ManifestFile] =
      if (overwrite || m.currentId < 0) Nil
      else m.priorSnapshots.find(_.id == m.currentId).map { s =>
        readManifestFiles(conf, dir, IcebergLite.resolveUri(dir, s.manifestListPath))
      }.getOrElse(Nil)

    // data files: identity values ride in the manifest partition struct
    val aligned = withFieldIds(align(data, m.schema), m.schema, m.fieldIds)
    val staged = writeDataFiles(aligned, dir, m.partitionCols, "data")
    val entrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(m.schema, m.partitionCols))
    val entries = staged.map { f =>
      val (lo, hi, nc) = entryBounds(f.statsJson, m.schema, m.fieldIds)
      LakeWrite.ManifestEntry(1, f.relPath, f.rowCount, f.size, newSnapId,
        partition = typedPartVals(m.schema, m.partitionCols, f.partitionValues),
        sequenceNumber = Some(newSeq),
        lowerBounds = lo, upperBounds = hi, nullCounts = nc)
    }
    commitIceberg(conf, dir, m, entries, existingManifests, newSnapId, newSeq, now, entrySchema,
      operation = if (overwrite) "overwrite" else "append",
      extraSummary = streamTxn.map { case (app, batch) =>
        Map("streaming-app-id" -> app, "streaming-batch-id" -> batch.toString)
      }.getOrElse(Map.empty),
      // a pure append composes with any winner; an overwrite planned
      // against a stale snapshot must fail and re-plan
      rebaseAppend = !overwrite)
  }

  /** Equality-delete UPSERT for Iceberg — the Flink-CDC blind-upsert
    * shape: ONE snapshot carries an equality-delete file naming the
    * batch's keys (masking every OLDER row with those keys — the spec's
    * strictly-less sequence gating) plus the batch's rows as new data
    * files at the same fresh sequence number, which therefore survive
    * their own delete. No read of the existing table at all: upsert cost
    * is the batch, never the corpus — the property that makes streaming
    * CDC into a 100 TB table feasible.
    */
  def icebergEqUpsert(spark: SparkSession, dir: Path, batch: DataFrame,
      keyCols: Seq[String], extraSummary: Map[String, String] = Map.empty): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(keyCols.nonEmpty && keyCols.forall(m.schema.fieldNames.contains),
      s"upsert keys ${keyCols.mkString(",")} must be top-level columns")
    val listPath = m.priorSnapshots.find(_.id == m.currentId)
      .map(s => IcebergLite.resolveUri(dir, s.manifestListPath))
    val existing = listPath.map(readManifestFiles(conf, dir, _)).getOrElse(Nil)
    val newSeq = m.lastSeq + 1
    val newSnapId = newSnapshotId(m)
    val fs = dir.getFileSystem(conf)
    val aligned = withFieldIds(align(batch, m.schema), m.schema, m.fieldIds)
    // the delete side: the batch's DISTINCT keys, table-typed, carrying
    // their field ids so the delete file itself resolves by id post-rename
    val keyDf = aligned.select(keyCols.map(c => col(s"`$c`")): _*)
      .distinct().orderBy(keyCols.map(c => col(s"`$c`")): _*)
    // UUID-suffixed: two concurrent committers can land on the same
    // millisecond-derived snapshot id, and a shared name would let one
    // clobber the other's staged delete file
    val delRel = s"data/eqdelete-$newSnapId-${java.util.UUID.randomUUID()}.parquet"
    val delSize = LakeWrite.writeOneParquetFile(keyDf, new Path(dir, delRel))
    val eqIds = keyCols.map(m.idOf)
    // count + per-key min/max in ONE read-back: the bounds ride in the
    // delete manifest entry (exact bounds on every masked row's key), so
    // concurrent committers judge eq-delete/read overlap from the manifest
    // instead of re-reading this parquet on every conflict-validation retry
    val statRow = spark.read.parquet(new Path(dir, delRel).toString)
      .agg(count(lit(1)),
        keyCols.flatMap(c => Seq(min(col(s"`$c`")), max(col(s"`$c`")))): _*).head()
    val nDel = statRow.getLong(0)
    val (eqLo, eqHi) = keyCols.indices.map { i =>
      val lo = Option(statRow.get(1 + 2 * i)).flatMap(LakeWrite.icebergBoundBytes)
      val hi = Option(statRow.get(2 + 2 * i)).flatMap(LakeWrite.icebergBoundBytes)
      (lo.map(eqIds(i) -> _), hi.map(eqIds(i) -> _))
    }.unzip match { case (los, his) => (los.flatten.toMap, his.flatten.toMap) }
    val delEntrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(m.schema, Nil))
    def stageEqDeletes(snapId: Long, seq: Long): LakeWrite.ManifestFile = {
      val delAttempt = java.util.UUID.randomUUID().toString
      val tmpD = java.io.File.createTempFile("graft-eq-manifest", ".avro")
      val dLen = LakeWrite.icebergWriteManifest(tmpD,
        Seq(LakeWrite.ManifestEntry(1, delRel, nDel, delSize, snapId,
          content = 2, sequenceNumber = Some(seq), equalityIds = eqIds,
          lowerBounds = eqLo, upperBounds = eqHi)),
        delEntrySchema)
      val dTarget = new Path(new Path(dir, "metadata"), s"md-$snapId-$delAttempt.avro")
      fs.mkdirs(dTarget.getParent)
      fs.copyFromLocalFile(true, true, new Path(tmpD.getAbsolutePath), dTarget)
      LakeWrite.ManifestFile(s"metadata/md-$snapId-$delAttempt.avro", dLen, 1, seq,
        specId = deleteSpecId(m), added = (1, nDel))
    }
    // the insert side, same sequence number: survives its own delete
    val staged = writeDataFiles(aligned, dir, m.partitionCols, "data")
    val entrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(m.schema, m.partitionCols))
    def dataEntries(snapId: Long, seq: Long): Seq[LakeWrite.ManifestEntry] = staged.map { f =>
      val (lo, hi, nc) = entryBounds(f.statsJson, m.schema, m.fieldIds)
      LakeWrite.ManifestEntry(1, f.relPath, f.rowCount, f.size, snapId,
        partition = typedPartVals(m.schema, m.partitionCols, f.partitionValues),
        sequenceNumber = Some(seq),
        lowerBounds = lo, upperBounds = hi, nullCounts = nc)
    }
    commitIceberg(conf, dir, m, dataEntries(newSnapId, newSeq),
      existing :+ stageEqDeletes(newSnapId, newSeq),
      newSnapId, newSeq, newSnapId, entrySchema, operation = "overwrite",
      extraSummary = extraSummary,
      // a blind upsert reads nothing: its delete side masks strictly-older
      // rows by key whatever the winner did, so a lost race re-reads the
      // winner's manifests and re-keys both sides — the same composition
      // guarantee as an append rebase (Flink CDC's RowDelta retry)
      rebase = Some((m2: IceMeta, snapId: Long, seq: Long) => {
        val listPath2 = m2.priorSnapshots.find(_.id == m2.currentId)
          .map(s => IcebergLite.resolveUri(dir, s.manifestListPath))
        val existing2 = listPath2.map(readManifestFiles(conf, dir, _)).getOrElse(Nil)
        (dataEntries(snapId, seq), existing2 :+ stageEqDeletes(snapId, seq))
      }))
  }

  /** Merge-on-read UPDATE for Iceberg (`write.update.mode =
    * merge-on-read`): the matched rows mask out via a position-delete file
    * while their rewritten versions append as new data files — one
    * snapshot, both manifests at the same fresh sequence number (the
    * delete cannot touch the new files: position deletes key on file
    * path).
    */
  def icebergMorUpdate(spark: SparkSession, dir: Path,
      matchedRowIds: DataFrame, newRows: DataFrame,
      readScope: Option[IceReadScope] = None,
      baseSeq: Option[Long] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.currentId >= 0, s"cannot update an Iceberg table with no snapshots: $dir")
    val listPath = m.priorSnapshots.find(_.id == m.currentId)
      .map(s => IcebergLite.resolveUri(dir, s.manifestListPath))
      .getOrElse(throw new IllegalStateException(s"current snapshot not in snapshot list: $dir"))
    val existing = readManifestFiles(conf, dir, listPath)
    val newSeq = m.lastSeq + 1
    val newSnapId = newSnapshotId(m)
    val fs = dir.getFileSystem(conf)
    // the delete side
    val delRows = matchedRowIds
      .select(col(graft.plans.LakeRowLevel.FileIdCol).as("file_path"),
        col(graft.plans.LakeRowLevel.RowIxCol).as("pos"))
      .orderBy("file_path", "pos")
    val delRel = s"data/delete-$newSnapId-${java.util.UUID.randomUUID()}.parquet"
    val delSize = LakeWrite.writeOneParquetFile(delRows, new Path(dir, delRel))
    val nDel = spark.read.parquet(new Path(dir, delRel).toString).count()
    if (nDel == 0) fs.delete(new Path(dir, delRel), false) // insert-only merge
    // the delete manifest, keyed to the attempt's snapshot id / sequence —
    // a rebase re-stages it (the avro embeds both)
    def stageDeletes(snapId: Long, seq: Long): Seq[LakeWrite.ManifestFile] =
      if (nDel == 0) Nil
      else {
        val delEntrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(m.schema, Nil))
        val delAttempt = java.util.UUID.randomUUID().toString
        val tmpD = java.io.File.createTempFile("graft-del-manifest", ".avro")
        val dLen = LakeWrite.icebergWriteManifest(tmpD,
          Seq(LakeWrite.ManifestEntry(1, delRel, nDel, delSize, snapId,
            content = 1, sequenceNumber = Some(seq))), delEntrySchema)
        val dTarget = new Path(new Path(dir, "metadata"), s"md-$snapId-$delAttempt.avro")
        fs.mkdirs(dTarget.getParent)
        fs.copyFromLocalFile(true, true, new Path(tmpD.getAbsolutePath), dTarget)
        Seq(LakeWrite.ManifestFile(s"metadata/md-$snapId-$delAttempt.avro", dLen, 1, seq,
          specId = deleteSpecId(m), added = (1, nDel)))
      }
    // the rewrite side: new data files
    val aligned = withFieldIds(align(newRows, m.schema), m.schema, m.fieldIds)
    val staged = writeDataFiles(aligned, dir, m.partitionCols, "data")
    val entrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(m.schema, m.partitionCols))
    def dataEntries(snapId: Long, seq: Long): Seq[LakeWrite.ManifestEntry] = staged.map { f =>
      val (lo, hi, nc) = entryBounds(f.statsJson, m.schema, m.fieldIds)
      LakeWrite.ManifestEntry(1, f.relPath, f.rowCount, f.size, snapId,
        partition = typedPartVals(m.schema, m.partitionCols, f.partitionValues),
        sequenceNumber = Some(seq),
        lowerBounds = lo, upperBounds = hi, nullCounts = nc)
    }
    // everything past the READ's sequence number is a winner of the
    // scan→commit window (metadata here is loaded fresh): validate it now,
    // and again on every lost version race
    val bSeq = baseSeq.getOrElse(m.lastSeq)
    // uncontended (nothing committed since the scan): skip the validation
    if (m.lastSeq > bSeq)
      readScope.foreach(sc => validateRowDeltaRebase(spark, dir, bSeq, m, sc,
        refFilesOf(spark, dir, delRel, nDel)))
    val rebase = readScope.map { sc =>
      (m2: IceMeta, snapId: Long, seq: Long) => {
        val all2 = validateRowDeltaRebase(spark, dir, bSeq, m2, sc,
          refFilesOf(spark, dir, delRel, nDel))
        (dataEntries(snapId, seq), all2 ++ stageDeletes(snapId, seq))
      }
    }
    commitIceberg(conf, dir, m, dataEntries(newSnapId, newSeq),
      existing ++ stageDeletes(newSnapId, newSeq),
      newSnapId, newSeq, newSnapId, entrySchema, operation = "overwrite",
      rebase = rebase)
  }

  /** SnapshotProducer-style validation for a MoR row-delta (position
    * deletes +/- new data) against everything committed past the READ's
    * sequence number `bSeq`: the data files the delete file references
    * must still be live (a winner rewriting one would orphan our
    * positions — its rows would silently resurrect), the window must
    * carry no NEW delete files (ours may mask rows the winner also
    * touched — delete/delete stays loud, as on the Delta side), and its
    * new data files must not overlap what this transaction read
    * (serializable isolation — Iceberg's validateAddedDataFiles).
    * Returns the judged state's manifest list for the rebase.
    */
  private def validateRowDeltaRebase(spark: SparkSession, dir: Path,
      bSeq: Long, m2: IceMeta, sc: IceReadScope,
      refFiles: Set[String]): Seq[LakeWrite.ManifestFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val t = dir.toString
    val listPath2 = m2.priorSnapshots.find(_.id == m2.currentId)
      .map(s => IcebergLite.resolveUri(dir, s.manifestListPath))
      .getOrElse(throw new LakeConcurrency.CommitFailedException(
        s"current snapshot not in snapshot list under $dir"))
    val all2 = readManifestFiles(conf, dir, listPath2)
    val (live2, deleteMs2) = readLiveDataEntries(conf, dir, listPath2, fieldsByIdOf(m2))
    val live2Paths = live2.map(e => IcebergLite.normPath(e.filePath)).toSet
    refFiles.find(!live2Paths.contains(_)).foreach(p =>
      throw new LakeConcurrency.ConcurrentDeleteReadException(t, m2.metaVersion, p))
    val newDeleteMs = deleteMs2.filter(_.sequenceNumber > bSeq)
    if (newDeleteMs.nonEmpty) {
      if (refFiles.nonEmpty)
        // both sides stage deletes in the same window: delete/delete stays
        // loud, as on the Delta side
        throw new LakeConcurrency.ConcurrentDeleteDeleteException(
          t, m2.metaVersion, newDeleteMs.head.path)
      else {
        // insert-only commit (stages no delete file): a winner's new deletes
        // are a READ concern, and only when they may mask rows this scope
        // read — position deletes narrow to their referenced data files'
        // stats; equality deletes narrow to their own KEY-VALUE bounds
        // (every row they mask shares those key values, so read predicates
        // that exclude the whole key range prove the deletes invisible)
        val byPath = live2.map(e => IcebergLite.normPath(e.filePath) -> e).toMap
        val winnerDeletes = newDeleteMs.flatMap(dm => IcebergLite.readDeleteManifestEntries(
          conf, dir, IcebergLite.resolveUri(dir, dm.path), dm.sequenceNumber))
        val overlaps = winnerDeletes.exists {
          case Left(pd) if pd.seq > bSeq =>
            referencedDataPaths(spark, pd.path)
              .exists(p => byPath.get(p).forall(sc.addConflicts))
          case Left(_) => false
          case Right(eq) if eq.seq > bSeq =>
            eqDeleteOverlapsScope(spark, eq, sc, fieldsByIdOf(m2))
          case Right(_) => false
        }
        if (overlaps)
          throw new LakeConcurrency.ConcurrentDeleteReadException(
            t, m2.metaVersion, newDeleteMs.head.path)
      }
    }
    // new data files must not overlap the read; replace-snapshot re-adds
    // (compaction, no new rows) are exempt, per validateAddedDataFiles
    val replace2 = replaceSnapshotIds(m2)
    live2.filter(e => e.seq > bSeq && !replace2.contains(e.snapshotId))
      .find(sc.addConflicts).foreach(_ =>
        throw new LakeConcurrency.ConcurrentAppendException(t, m2.metaVersion))
    all2
  }

  /** Snapshot ids whose summary.operation is "replace" (compaction / byte
    * motion, no new rows) — their re-added files never carry rows a
    * concurrent reader missed, so the concurrent-append check skips them
    * (the Iceberg twin of the Delta dataChange=false exemption).
    */
  private def replaceSnapshotIds(m: IceMeta): Set[Long] =
    m.priorSnapshots.filter(_.operation == "replace").map(_.id).toSet

  /** Could a winner's equality-delete file mask rows this read scope saw?
    * The masked rows share the delete file's key values exactly, so the
    * file's own min/max per equality column are EXACT bounds for every
    * masked row on those columns. Feeding them through the same stats
    * machinery `addConflicts` uses narrows delete/read conflicts to key
    * ranges the read predicates can actually reach — a concurrent
    * eq-delete on a disjoint key range no longer aborts the transaction
    * (Iceberg's validateNoNewDeletesForDataFiles bound, applied key-wise).
    * Unknown key shapes (dropped fields, missing columns) stay
    * conservative.
    */
  private def eqDeleteOverlapsScope(spark: SparkSession,
      eq: IcebergLite.EqDeleteFile, sc: IceReadScope,
      fieldsById: Map[Int, (String, DataType)]): Boolean = {
    if (sc.readWholeTable) return true
    if (sc.predicates.isEmpty) return false // file-scoped read, as addConflicts
    val names = eq.equalityIds.map(fieldsById.get)
    if (names.exists(_.isEmpty)) return true // unmappable key field
    // FAST PATH: the delete manifest's own lower/upper_bounds. When every
    // equality column decodes both bounds there, they bound the masked key
    // range exactly and the (per-retry) parquet read below is skipped —
    // the conflict-validation loop stays metadata-only for writers that
    // stamp key bounds (ours does since r14).
    val manifestStats: Option[org.apache.spark.sql.GraftLakeBridge.FileStats] = {
      val decoded = eq.equalityIds.map { id =>
        fieldsById.get(id).flatMap { case (name, dt) =>
          for {
            loB <- eq.loBounds.get(id); hiB <- eq.hiBounds.get(id)
            lo <- LakeWrite.icebergBoundValue(dt, loB)
            hi <- LakeWrite.icebergBoundValue(dt, hiB)
          } yield (name -> lo, name -> hi)
        }
      }
      if (decoded.exists(_.isEmpty)) None
      else Some(org.apache.spark.sql.GraftLakeBridge.FileStats(None,
        decoded.flatten.map(_._1).toMap, decoded.flatten.map(_._2).toMap, Map.empty))
    }
    manifestStats.foreach { st =>
      return org.apache.spark.sql.GraftLakeBridge.StatsSkipping
        .mayMatch(sc.predicates, Some(st), sc.schema)
    }
    try {
      val df = spark.read.parquet(eq.path)
      val cols = names.flatten.map(_._1).filter(df.columns.contains)
      if (cols.isEmpty) return true
      val aggs = cols.flatMap(c => Seq(
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col(c)),
        org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col(c))))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val (mins, maxs) = cols.zipWithIndex.map { case (c, i) =>
        (c -> row.get(2 * i), c -> row.get(2 * i + 1))
      }.unzip
      val bounded = mins.zip(maxs).collect {
        case ((c, mn), (_, mx)) if mn != null && mx != null => (c -> mn, c -> mx)
      }
      if (bounded.isEmpty) return true // all-null keys: no bound to prove with
      val st = org.apache.spark.sql.GraftLakeBridge.FileStats(None,
        bounded.map(_._1).toMap, bounded.map(_._2).toMap, Map.empty)
      org.apache.spark.sql.GraftLakeBridge.StatsSkipping
        .mayMatch(sc.predicates, Some(st), sc.schema)
    } catch { case _: Exception => true } // unreadable delete file: conservative
  }

  /** The distinct data-file paths a position-delete parquet references,
    * normalized — read back from the winner's own delete file to judge
    * whether its deletes land inside this transaction's read scope.
    */
  private def referencedDataPaths(spark: SparkSession, deletePath: String): Seq[String] =
    spark.read.parquet(deletePath).select("file_path").distinct()
      .collect().map(r => IcebergLite.normPath(r.getString(0))).toSeq

  /** The distinct data files a staged position-delete parquet references
    * (normalized) — file-count-bounded driver state, read back from the
    * already-written delete file so it is exact regardless of scope shape.
    */
  private def refFilesOf(spark: SparkSession, dir: Path, delRel: String,
      nDel: Long): Set[String] =
    if (nDel == 0) Set.empty
    else spark.read.parquet(new Path(dir, delRel).toString)
      .select("file_path").distinct().collect()
      .map(r => IcebergLite.normPath(r.getString(0))).toSet

  /** Table properties from the current metadata (the `write.*` behavior
    * levers live here).
    */
  def icebergTableProperties(spark: SparkSession, dir: Path): Map[String, String] =
    loadIceMeta(spark.sparkContext.hadoopConfiguration, dir).properties

  /** Merge-on-read DELETE for Iceberg (`write.delete.mode = merge-on-read`,
    * the spec's own lever): write ONE position-delete parquet of
    * (file_path, pos) — sorted per the spec — at the next sequence number
    * and register it through a delete manifest; data files and their
    * manifests never move. The reader's seq-gated anti-join serves the new
    * state; the changelog derives the deleted rows from the delete-file
    * delta.
    */
  def icebergMorDelete(spark: SparkSession, dir: Path,
      matchedRowIds: DataFrame, readScope: Option[IceReadScope] = None,
      baseSeq: Option[Long] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.currentId >= 0, s"cannot delete from an Iceberg table with no snapshots: $dir")
    val listPath = m.priorSnapshots.find(_.id == m.currentId)
      .map(s => IcebergLite.resolveUri(dir, s.manifestListPath))
      .getOrElse(throw new IllegalStateException(s"current snapshot not in snapshot list: $dir"))
    val existing = readManifestFiles(conf, dir, listPath)
    val newSeq = m.lastSeq + 1
    val newSnapId = newSnapshotId(m)
    val rows = matchedRowIds
      .select(col(graft.plans.LakeRowLevel.FileIdCol).as("file_path"),
        col(graft.plans.LakeRowLevel.RowIxCol).as("pos"))
      .orderBy("file_path", "pos")
    val rel = s"data/delete-$newSnapId-${java.util.UUID.randomUUID()}.parquet"
    val size = LakeWrite.writeOneParquetFile(rows, new Path(dir, rel))
    val nRows = spark.read.parquet(new Path(dir, rel).toString).count()
    require(nRows > 0, "MoR delete resolved no rows")
    val entrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(m.schema, Nil))
    def entry(snapId: Long, seq: Long) = LakeWrite.ManifestEntry(1, rel, nRows, size,
      snapId, content = 1, sequenceNumber = Some(seq))
    // everything past the READ's sequence number is a winner of the
    // scan→commit window: validate it now, and again on every lost
    // version race — the delete parquet itself is position-keyed on
    // still-live files, so a rebase re-keys it to a fresh sequence untouched
    val bSeq = baseSeq.getOrElse(m.lastSeq)
    // uncontended (nothing committed since the scan): skip the validation
    if (m.lastSeq > bSeq)
      readScope.foreach(sc => validateRowDeltaRebase(spark, dir, bSeq, m, sc,
        refFilesOf(spark, dir, rel, nRows)))
    val rebase = readScope.map { sc =>
      (m2: IceMeta, snapId: Long, seq: Long) => {
        val all2 = validateRowDeltaRebase(spark, dir, bSeq, m2, sc,
          refFilesOf(spark, dir, rel, nRows))
        (Seq(entry(snapId, seq)), all2)
      }
    }
    commitIceberg(conf, dir, m, Seq(entry(newSnapId, newSeq)), existing,
      newSnapId, newSeq, newSnapId,
      entrySchema, operation = "delete", newManifestContent = 1,
      newManifestSpecId = deleteSpecId(m), rebase = rebase)
  }

  /** Metadata-only schema-evolution commit: the new schema is APPENDED to
    * the schemas history under a fresh schema-id (ids inside are the
    * caller's — permanent across renames, fresh past last-column-id for
    * additions), current-schema-id advances, snapshots untouched. The
    * retained history is what lets the reader detect rename/re-add
    * evolutions and switch to field-id parquet resolution.
    */
  private def commitSchemaEvolution(conf: Configuration, dir: Path, m: IceMeta,
      newSchema: StructType, newIds: Seq[Int]): Unit = {
    implicit val formats: Formats = DefaultFormats
    val maxSchemaId = m.schemasJson
      .map(s => (s \ "schema-id").extractOrElse[Int](0)).maxOption.getOrElse(0)
    val newSchemaId = maxSchemaId + 1
    val newEntry: JValue = LakeWrite.icebergSchemaJsonIds(newSchema, newIds, newSchemaId)
    LakeWrite.icebergWriteMetadata(conf, dir, (m.metaVersion + 1).toInt, newSchema,
      m.priorSnapshots, currentSnapshotId = m.currentId,
      refs = if (m.currentId >= 0) Map("main" -> (m.currentId, "branch")) else Map.empty,
      specFields = specFieldsFor(newSchema, m.partitionCols, newIds),
      properties = m.properties,
      schemasJson = m.schemasJson :+ newEntry, currentSchemaId = newSchemaId,
      lastColumnId = math.max(m.lastColumnId, newIds.maxOption.getOrElse(0)),
      snapshotLog = m.snapshotLog,
      failIfExists = true)
    ()
  }

  /** ADD COLUMNS for a native Iceberg table: fresh field ids past
    * last-column-id (a re-added name NEVER reuses the dropped column's id,
    * so old files' dead data cannot resurface), data untouched — old files
    * null-fill the new columns.
    */
  def icebergAddColumns(spark: SparkSession, dir: Path,
      newFields: Seq[StructField]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    newFields.foreach(f => require(!m.schema.fieldNames.contains(f.name),
      s"column ${f.name} already exists"))
    require(newFields.map(_.name).distinct.size == newFields.size,
      s"duplicate names in ADD COLUMNS: ${newFields.map(_.name).mkString(", ")}")
    val newSchema = StructType(m.schema.fields ++ newFields)
    val newIds = m.fieldIds ++ newFields.indices.map(m.lastColumnId + 1 + _)
    commitSchemaEvolution(conf, dir, m, newSchema, newIds)
  }

  /** RENAME COLUMN: the field keeps its id (the spec's rule — ids are
    * permanent), so files written pre-rename keep resolving through
    * field-id parquet resolution; only the display name changes.
    */
  def icebergRenameColumn(spark: SparkSession, dir: Path,
      oldName: String, newName: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.schema.fieldNames.contains(oldName), s"column $oldName does not exist")
    require(!m.schema.fieldNames.contains(newName), s"column $newName already exists")
    require(!m.partitionCols.contains(oldName),
      s"cannot rename partition column $oldName (the partition spec and every " +
        "manifest's partition struct carry it by name)")
    val ix = m.schema.fieldIndex(oldName)
    val newSchema = StructType(m.schema.fields.updated(ix,
      m.schema.fields(ix).copy(name = newName)))
    commitSchemaEvolution(conf, dir, m, newSchema, m.fieldIds)
  }

  /** The Iceberg spec's allowed primitive type promotions (Schema
    * Evolution: int -> long, float -> double, decimal precision widening
    * at fixed scale). Spark's parquet reader up-converts the narrow
    * physical type at scan time, so old files need no rewrite.
    */
  private def icebergWidens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision >= f.precision
    case _ => false
  }

  /** ALTER COLUMN TYPE: widening-only (the spec's promotion set) — same
    * field id, new schema generation; narrower data in old files reads
    * up-converted.
    */
  def icebergWidenColumn(spark: SparkSession, dir: Path,
      name: String, newType: DataType): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.schema.fieldNames.contains(name), s"column $name does not exist")
    require(!m.partitionCols.contains(name),
      s"cannot change the type of partition column $name")
    val ix = m.schema.fieldIndex(name)
    val oldType = m.schema.fields(ix).dataType
    if (oldType == newType) return
    require(icebergWidens(oldType, newType),
      s"ALTER COLUMN $name TYPE: only the spec's widening promotions are allowed " +
        s"(int->long, float->double, decimal precision growth); " +
        s"got $oldType -> $newType")
    val newSchema = StructType(m.schema.fields.updated(ix,
      m.schema.fields(ix).copy(dataType = newType)))
    commitSchemaEvolution(conf, dir, m, newSchema, m.fieldIds)
  }

  /** DROP COLUMN: the field (and its id) leave the current schema; data
    * files keep the bytes but no read requests the id again — and a later
    * ADD COLUMN with the same name allocates a FRESH id, so the dropped
    * column's data stays dead (the exact misread the old name-based
    * resolution guard existed to prevent).
    */
  def icebergDropColumn(spark: SparkSession, dir: Path, name: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.schema.fieldNames.contains(name), s"column $name does not exist")
    require(!m.partitionCols.contains(name), s"cannot drop partition column $name")
    require(m.schema.fields.length > 1, "cannot drop the last column")
    // a LIVE equality-delete file keyed on this column would make every
    // subsequent read throw (its id no longer resolves): refuse, like a
    // partition column — compact the deletes away first
    if (m.currentId >= 0) {
      val snap = IcebergLite.snapshot(spark, dir)
      val dropId = m.idOf(name)
      val referencing = snap.eqDeleteFiles.filter(_.equalityIds.contains(dropId))
      require(referencing.isEmpty,
        s"cannot drop column $name: ${referencing.size} live equality-delete " +
          s"file(s) key on it (field id $dropId) — OPTIMIZE the table first")
    }
    val ix = m.schema.fieldIndex(name)
    val newSchema = StructType(m.schema.fields.patch(ix, Nil, 1))
    val newIds = m.fieldIds.patch(ix, Nil, 1)
    commitSchemaEvolution(conf, dir, m, newSchema, newIds)
  }

  /** The highest streaming batch id committed by `appId` along the current
    * lineage (snapshot-summary markers — the Iceberg analogue of Delta's
    * SetTransaction). None = this appId never wrote.
    */
  def icebergLastStreamBatch(spark: SparkSession, dir: Path, appId: String): Option[Long] = {
    val m = loadIceMeta(spark.sparkContext.hadoopConfiguration, dir)
    val batches = m.priorSnapshots.filter(_.extraSummary.get("streaming-app-id").contains(appId))
      .flatMap(_.extraSummary.get("streaming-batch-id")).map(_.toLong)
    batches.maxOption
  }

  /** One live entry of a data manifest, with enough fidelity to re-emit it
    * — plus its decoded column stats when `fieldsById` was supplied, the
    * input to judging a concurrent winner's adds against a read scope.
    */
  private[lake] final case class LiveEntry(filePath: String, recordCount: Long, size: Long,
      partition: Map[String, Any], seq: Long,
      stats: Option[org.apache.spark.sql.GraftLakeBridge.FileStats] = None,
      /** the snapshot that ADDED this file (entry-level snapshot_id, -1 when
        * unreadable) — lets conflict validation exempt files re-added by a
        * replace snapshot (compaction), mirroring Iceberg's
        * validateAddedDataFiles operation filter
        */
      snapshotId: Long = -1L)

  /** The current snapshot's live data entries plus its delete manifests
    * (re-referenced untouched by a rewrite: position deletes for removed
    * files stop matching by file identity; surviving files keep theirs).
    */
  private def readLiveDataEntries(conf: Configuration, dir: Path,
      listPath: Path, fieldsById: Map[Int, (String, DataType)] = Map.empty):
      (Seq[LiveEntry], Seq[LakeWrite.ManifestFile]) = {
    val manifests = readManifestFiles(conf, dir, listPath)
    val (deleteMs, dataMs) = manifests.partition(_.content == 1)
    val entries = dataMs.flatMap { mf =>
      val p = IcebergLite.resolveUri(dir, mf.path)
      val in = new org.apache.avro.mapred.FsInput(p, conf)
      val reader = org.apache.avro.file.DataFileReader.openReader(in,
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try {
        val buf = Seq.newBuilder[LiveEntry]
        while (reader.hasNext) {
          val r = reader.next()
          val status = r.get("status").asInstanceOf[Int]
          if (status != 2) {
            val df = r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
            val seq = Option(r.getSchema.getField("sequence_number"))
              .flatMap(f => Option(r.get(f.pos()))).map(_.asInstanceOf[Number].longValue())
              .getOrElse(mf.sequenceNumber)
            val part: Map[String, Any] =
              Option(df.getSchema.getField("partition")).map(f => df.get(f.pos())).collect {
                case pr: org.apache.avro.generic.GenericRecord =>
                  import scala.jdk.CollectionConverters._
                  pr.getSchema.getFields.asScala.flatMap { pf =>
                    Option(pr.get(pf.pos())).map {
                      case u: org.apache.avro.util.Utf8 => pf.name() -> (u.toString: Any)
                      case v => pf.name() -> (v: Any)
                    }
                  }.toMap
              }.getOrElse(Map.empty)
            val entrySnapId = Option(r.getSchema.getField("snapshot_id"))
              .flatMap(f => Option(r.get(f.pos()))).map(_.asInstanceOf[Number].longValue())
              .getOrElse(-1L)
            buf += LiveEntry(df.get("file_path").toString,
              Option(df.getSchema.getField("record_count"))
                .flatMap(f => Option(df.get(f.pos()))).map(_.asInstanceOf[Number].longValue())
                .getOrElse(0L),
              df.get("file_size_in_bytes").asInstanceOf[Long], part, seq,
              stats = if (fieldsById.isEmpty) None
                else IcebergLite.entryStats(df, fieldsById),
              snapshotId = entrySnapId)
          }
        }
        buf.result()
      } finally reader.close()
    }
    (entries, deleteMs)
  }

  /** Predicate-scoped read set of an Iceberg transaction — the mirror of
    * [[DeltaReadScope]] for the Iceberg commit path, and of
    * SnapshotProducer's conflict validation (validateAddedDataFiles
    * against the operation's conflict-detection filter): a winner's newly
    * added data file conflicts only when it MAY contain rows matching
    * what this transaction read, judged from the entry's decoded column
    * bounds plus its identity-partition values as exact min=max bounds.
    * Anything unknown conflicts — narrowing is never unsafe.
    */
  private[lake] final case class IceReadScope(
      readWholeTable: Boolean,
      predicates: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      schema: StructType,
      partitionCols: Seq[String],
      readFiles: Set[String]) {

    /** Would a winner's add of this file change what the transaction read? */
    def addConflicts(e: LiveEntry): Boolean =
      readWholeTable || (predicates.nonEmpty && {
        val base = e.stats.getOrElse(
          org.apache.spark.sql.GraftLakeBridge.FileStats(None, Map.empty, Map.empty, Map.empty))
        // identity partition values are exact per-column bounds (absent /
        // null values contribute nothing and stay conservative)
        val partTyped: Map[String, Any] = partitionCols.flatMap { pc =>
          for {
            f <- schema.fields.find(_.name == pc)
            raw <- e.partition.get(pc) if raw != null
            v <- scala.util.Try(
              org.apache.spark.sql.GraftLakeBridge.toCatalyst(raw, f.dataType)).toOption
          } yield pc -> v
        }.toMap
        val st = base.copy(
          min = base.min ++ partTyped,
          max = base.max ++ partTyped,
          nullCount = base.nullCount ++ partTyped.keys.map(_ -> 0L))
        org.apache.spark.sql.GraftLakeBridge.StatsSkipping
          .mayMatch(predicates, Some(st), schema)
      })
  }

  /** Row-level copy-on-write commit for Iceberg: one consolidated data
    * manifest carries the surviving files as EXISTING (original sequence
    * numbers preserved — older deletes keep gating them correctly), the
    * removed files as DELETED, and the staged replacement files as ADDED
    * at the new sequence number. Delete manifests re-reference untouched.
    * `removedFids` are normalized manifest file_paths (the scan's __gfid).
    */
  def icebergRewrite(spark: SparkSession, dir: Path, removedFids: Seq[String],
      replacement: DataFrame, operation: String = "overwrite",
      readScope: Option[IceReadScope] = None,
      baseSeq: Option[Long] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = loadIceMeta(conf, dir)
    require(m.currentId >= 0, s"cannot rewrite an Iceberg table with no snapshots: $dir")
    val listPath = m.priorSnapshots.find(_.id == m.currentId)
      .map(s => IcebergLite.resolveUri(dir, s.manifestListPath))
      .getOrElse(throw new IllegalStateException(s"current snapshot not in snapshot list: $dir"))
    val removedSet = removedFids.toSet
    // everything past the READ's sequence number was committed by a winner
    // in the scan→commit window (the metadata here is loaded fresh, so a
    // winner does not even need to race the version write to interleave);
    // validation judges the whole window, at plan time AND on every rebase
    val bSeq = baseSeq.getOrElse(m.lastSeq)
    def validate(sc: IceReadScope, mW: IceMeta, liveW: Seq[LiveEntry],
        deleteMsW: Seq[LakeWrite.ManifestFile]): Unit = {
      val t = dir.toString
      val liveWPaths = liveW.map(e => IcebergLite.normPath(e.filePath)).toSet
      // a winner rewriting / removing a file this commit removes
      removedSet.find(!liveWPaths.contains(_)).foreach(p =>
        throw new LakeConcurrency.ConcurrentDeleteDeleteException(t, mW.metaVersion, p))
      // a winner's new delete files may mask rows this rewrite re-materializes
      deleteMsW.find(_.sequenceNumber > bSeq).foreach(dm =>
        throw new LakeConcurrency.ConcurrentDeleteReadException(t, mW.metaVersion, dm.path))
      // a winner's new data files must not overlap what this rewrite read;
      // files re-added by a replace snapshot (compaction — byte motion, no
      // new rows) are exempt, per validateAddedDataFiles' operation filter
      val replaceW = replaceSnapshotIds(mW)
      liveW.filter(e => e.seq > bSeq && !replaceW.contains(e.snapshotId))
        .find(sc.addConflicts).foreach(_ =>
          throw new LakeConcurrency.ConcurrentAppendException(t, mW.metaVersion))
    }
    val (live, deleteManifests) = readLiveDataEntries(conf, dir, listPath,
      if (readScope.isDefined && m.lastSeq > bSeq) fieldsByIdOf(m) else Map.empty)
    // the uncontended case (nothing committed since the scan) skips the
    // window validation entirely — no extra metadata work per DML
    if (m.lastSeq > bSeq) readScope.foreach(validate(_, m, live, deleteManifests))
    val (removed0, _) = live.partition(e =>
      removedSet.contains(IcebergLite.normPath(e.filePath)))
    require(removed0.size == removedFids.size,
      s"rewrite lost track of ${removedFids.size - removed0.size} files (concurrent commit?)")

    val newSeq = m.lastSeq + 1
    val newSnapId = newSnapshotId(m)
    val aligned = withFieldIds(align(replacement, m.schema), m.schema, m.fieldIds)
    val staged = writeDataFiles(aligned, dir, m.partitionCols, "data")
    val entrySchema = LakeWrite.manifestEntrySchema(partTypeJsonFor(m.schema, m.partitionCols))
    // the commit's entries as a function of the base state: survivors stay
    // EXISTING with their own sequence numbers, the removed files turn
    // DELETED, the staged files ADD at the retry's sequence number — the
    // same shape whether the base is our snapshot or a winner's
    def entriesFor(base: Seq[LiveEntry], snapId: Long, seq: Long): Seq[LakeWrite.ManifestEntry] = {
      val (rm, surv) = base.partition(e =>
        removedSet.contains(IcebergLite.normPath(e.filePath)))
      surv.map(e => LakeWrite.ManifestEntry(0, e.filePath, e.recordCount, e.size,
        snapId, partition = e.partition, sequenceNumber = Some(e.seq))) ++
      rm.map(e => LakeWrite.ManifestEntry(2, e.filePath, e.recordCount, e.size,
        snapId, partition = e.partition, sequenceNumber = Some(e.seq))) ++
      staged.map { f =>
        val (lo, hi, nc) = entryBounds(f.statsJson, m.schema, m.fieldIds)
        LakeWrite.ManifestEntry(1, f.relPath, f.rowCount, f.size, snapId,
          partition = typedPartVals(m.schema, m.partitionCols, f.partitionValues),
          sequenceNumber = Some(seq),
          lowerBounds = lo, upperBounds = hi, nullCounts = nc)
      }
    }
    // SnapshotProducer-style validate-and-rebase on a lost version race:
    // the same window validation against the newest winner, then the
    // commit replays on top of it instead of aborting
    val rebase = readScope.map { sc =>
      (m2: IceMeta, snapId: Long, seq: Long) => {
        val listPath2 = m2.priorSnapshots.find(_.id == m2.currentId)
          .map(s => IcebergLite.resolveUri(dir, s.manifestListPath))
          .getOrElse(throw new LakeConcurrency.CommitFailedException(
            s"current snapshot not in snapshot list under $dir"))
        val (live2, deleteMs2) = readLiveDataEntries(conf, dir, listPath2,
          fieldsByIdOf(m2))
        validate(sc, m2, live2, deleteMs2)
        (entriesFor(live2, snapId, seq), deleteMs2)
      }
    }
    commitIceberg(conf, dir, m, entriesFor(live, newSnapId, newSeq), deleteManifests,
      newSnapId, newSeq, newSnapId, entrySchema, operation = operation, rebase = rebase)
  }

  /** Top-level field ids keyed to (name, type) — [[IcebergLite.entryStats]]'
    * resolution input (positional 1..n for metadata predating explicit ids).
    */
  private def fieldsByIdOf(m: IceMeta): Map[Int, (String, DataType)] = {
    val ids = if (m.fieldIds.nonEmpty) m.fieldIds else m.schema.fields.indices.map(_ + 1)
    m.schema.fields.zip(ids).map { case (f, id) => id -> ((f.name, f.dataType)) }.toMap
  }

  /** The current manifest list re-read as writable entries (path, length,
    * content, sequence number) so an append can re-reference them.
    */
  private[lake] def readManifestFiles(conf: Configuration, tableDir: Path,
      listPath: Path): Seq[LakeWrite.ManifestFile] = {
    val in = new org.apache.avro.mapred.FsInput(listPath, conf)
    val reader = org.apache.avro.file.DataFileReader.openReader(in,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val buf = Seq.newBuilder[LakeWrite.ManifestFile]
      while (reader.hasNext) {
        val r = reader.next()
        def num(n: String, dflt: Long): Long = Option(r.getSchema.getField(n))
          .flatMap(f => Option(r.get(f.pos()))).map(_.asInstanceOf[Number].longValue())
          .getOrElse(dflt)
        buf += LakeWrite.ManifestFile(r.get("manifest_path").toString,
          num("manifest_length", 0L), num("content", 0L).toInt, num("sequence_number", 0L),
          specId = num("partition_spec_id", 0L).toInt,
          added = (num("added_files_count", 0L).toInt, num("added_rows_count", 0L)),
          existing = (num("existing_files_count", 0L).toInt, num("existing_rows_count", 0L)),
          deleted = (num("deleted_files_count", 0L).toInt, num("deleted_rows_count", 0L)))
      }
      buf.result()
    } finally reader.close()
  }
}
