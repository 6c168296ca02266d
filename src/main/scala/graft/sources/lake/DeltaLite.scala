package graft.sources.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftLakeBridge, Row, SparkSession}
import org.apache.spark.sql.GraftLakeBridge.{FileStats, LakeFile, LakeFileIndex}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.URI

/** Native Delta Lake *reader*: replays `_delta_log` (JSON commits + parquet
  * checkpoints) into a file list + schema, then hands data IO to Spark's
  * parquet machinery via [[LakeFileIndex]]. No delta-spark jar required —
  * the log is plain JSON and the checkpoint is plain parquet, both fully
  * specified by the public Delta protocol.
  *
  * Replaces the round-2..5 reflective-only adapter as the default read path
  * when the jar is absent (reference:
  * spark/spark-common/.../AbstractDeltaCatalogUnit.scala:29-80 — the
  * reference defers entirely to delta-spark; this rebuild reads the
  * protocol directly so offline/minimal deployments still work).
  *
  * Supported: reader protocol 1 and 2, and protocol 3 when
  * `readerFeatures` ⊆ {timestampNtz, deletionVectors, columnMapping,
  * typeWidening} — deletion vectors decode natively ([[RoaringDv]], all
  * three storage types) and apply as a broadcast per-file BITMAP FILTER
  * on (file identity, `_metadata.row_index`) when the descriptors bound
  * them small, else a distributed anti-join; column mapping (both `name`
  * and `id` modes)
  * reads each field under its physical name — parquet data columns AND
  * add-action partitionValues keys — and restores logical names with one
  * cast+alias projection (see [[restoreLogical]]). Checkpoints replay in
  * BOTH layouts — classic single/multi-part and v2 (UUID-named main file
  * + `_sidecars/` parquet) — and a completeness guard rejects a cleaned
  * log no readable checkpoint covers instead of replaying a silent
  * subset. Time travel by version and by timestamp (commitInfo
  * timestamp, falling back to commit file mtime).
  *
  * Scale: the driver holds (path, size, partitionValues) per live file —
  * the same driver-side state InMemoryFileIndex holds for any parquet
  * table, and the reason Delta itself checkpoints: state reconstruction
  * reads one checkpoint + a bounded JSON tail, not the whole log. Partition
  * pruning evaluates in [[LakeFileIndex.listFiles]], so pruned files never
  * produce tasks.
  */
object DeltaLite {

  private implicit val formats: Formats = DefaultFormats

  /** A live file's deletion vector, straight from the add action. */
  final case class DvDescriptor(storageType: String, pathOrInlineDv: String,
      offset: Long, sizeInBytes: Int, cardinality: Long)

  /** The table's declared protocol — versions plus the reader/writer
    * feature lists (empty below the table-features versions). Carried on
    * [[Snapshot]] so writers can UNION new features with what the log
    * already declares instead of re-stating (and thereby silently
    * downgrading) the protocol: the last protocol action wins on replay,
    * so a wholesale re-statement drops every feature an external writer
    * declared (timestampNtz, invariants, changeDataFeed, ...).
    */
  final case class Protocol(minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String])

  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[LakeFile],
      tableDir: Path,
      /** raw add-action paths aligned with `files` (the DV join identity) */
      fileIds: Seq[String] = Nil,
      /** deletion vectors keyed by raw add path (empty = plain scan) */
      dvs: Map[String, DvDescriptor] = Map.empty,
      /** column-mapping physical schema, aligned field-by-field (at every
        * nesting level) with `schema`; None = mapping mode `none`, physical
        * names are the logical names
        */
      physSchema: Option[StructType] = None,
      /** table configuration from the metaData action */
      configuration: Map[String, String] = Map.empty,
      /** the metaData action's stable table id */
      metaId: String = "",
      /** raw add.stats JSON per fileId (checkpoint fidelity) */
      statsJson: Map[String, String] = Map.empty,
      /** the last protocol action the log declares (legacy 1/2 default) */
      protocol: Protocol = Protocol(1, 2, Nil, Nil)) {
    def cdfEnabled: Boolean =
      configuration.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true"))
    def partitionSchema: StructType =
      StructType(partitionColumns.map(c => schema(schema.fieldIndex(c))))
    def dataSchema: StructType =
      StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
    /** partition schema under the names the parquet files / partitionValues
      * actually use
      */
    def physPartitionSchema: StructType = physSchema match {
      case Some(ps) => StructType(partitionColumns.map(c => ps.fields(schema.fieldIndex(c))))
      case None => partitionSchema
    }
    def physDataSchema: StructType = physSchema match {
      case Some(ps) => StructType(schema.fields.zip(ps.fields).collect {
        case (lf, pf) if !partitionColumns.contains(lf.name) => pf
      }.toIndexedSeq)
      case None => dataSchema
    }
  }

  def isDeltaTable(conf: Configuration, dir: Path): Boolean = {
    val log = new Path(dir, "_delta_log")
    val fs = log.getFileSystem(conf)
    fs.exists(log) && fs.getFileStatus(log).isDirectory
  }

  // ---- log discovery ----

  private val CommitRe = """(\d{20})\.json""".r
  private val CheckpointRe = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiCheckpointRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  private val V2CheckpointRe = """(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.parquet""".r

  private case class LogFiles(commits: Seq[(Long, FileStatus)],
      checkpoints: Map[Long, Seq[FileStatus]],
      v2Checkpoints: Map[Long, FileStatus] = Map.empty)

  private def listLog(conf: Configuration, dir: Path): LogFiles = {
    val log = new Path(dir, "_delta_log")
    val fs = log.getFileSystem(conf)
    require(fs.exists(log), s"not a Delta table (no _delta_log): $dir")
    val entries = fs.listStatus(log).toSeq.filter(_.isFile)
    val commits = entries.flatMap { s =>
      s.getPath.getName match {
        case CommitRe(v) => Some(v.toLong -> s)
        case _ => None
      }
    }.sortBy(_._1)
    // A checkpoint version is only a usable replay base when it is COMPLETE:
    // the protocol requires readers to verify all N parts of a multi-part
    // checkpoint (a writer can crash mid-write and the part files are not
    // atomic). Incomplete versions are dropped here, so replay falls back to
    // an earlier complete checkpoint (or pure JSON) instead of silently
    // missing every add stored in the absent parts.
    val cpEntries = entries.flatMap { s =>
      s.getPath.getName match {
        case CheckpointRe(v) => Some((v.toLong, None: Option[(Int, Int)], s))
        case MultiCheckpointRe(v, part, total) =>
          Some((v.toLong, Some((part.toInt, total.toInt)), s))
        case _ => None
      }
    }
    val v2Checkpoints = entries.flatMap { s =>
      s.getPath.getName match {
        case V2CheckpointRe(v) => Some(v.toLong -> s)
        case _ => None
      }
    }.toMap
    val checkpoints = cpEntries.groupBy(_._1).flatMap { case (v, es) =>
      val singles = es.filter(_._2.isEmpty).map(_._3)
      if (singles.nonEmpty) Some(v -> singles)
      else {
        // multi-part: every part 1..N of one (part, N) family must exist
        val byTotal = es.flatMap(e => e._2.map { case (p, t) => (t, p, e._3) })
          .groupBy(_._1)
        byTotal.collectFirst {
          case (total, parts) if parts.map(_._2).toSet == (1 to total).toSet =>
            v -> parts.sortBy(_._2).map(_._3)
        }
      }
    }.toMap
    LogFiles(commits, checkpoints, v2Checkpoints)
  }

  /** The newest checkpoint at or below `atOrBelow` — classic parts or a v2
    * (UUID-named) main file plus its sidecars — as (version, parquet
    * paths). The ONE base-selection used by replay, CHECKPOINT writing and
    * txn high-water lookups, so every path sees v2 checkpoints the same
    * way: a reconstruction that ignored v2 bases would reset the protocol
    * to 1/2 (dropping feature gates external readers rely on) and lose txn
    * marks (re-applying already-committed streaming batches).
    */
  private def checkpointBase(spark: SparkSession, log: LogFiles, dir: Path,
      atOrBelow: Long): Option[(Long, Seq[String])] = {
    val classicCp = log.checkpoints.keys.filter(_ <= atOrBelow).maxOption
    val v2Cp = log.v2Checkpoints.keys.filter(_ <= atOrBelow).maxOption
    val useV2 = v2Cp.exists(v => classicCp.forall(_ < v))
    (if (useV2) v2Cp else classicCp).map { cv =>
      val parts =
        if (!useV2) log.checkpoints(cv).map(_.getPath.toString)
        else {
          val main = log.v2Checkpoints(cv).getPath
          val mainDf = spark.read.parquet(main.toString)
          val sidecars =
            if (!mainDf.columns.contains("sidecar")) Nil
            else mainDf.select("sidecar.path")
              .where(org.apache.spark.sql.functions.col("path").isNotNull)
              .collect().map(_.getString(0)).toSeq
              .map(p => new Path(new Path(new Path(dir, "_delta_log"), "_sidecars"), p).toString)
          main.toString +: sidecars
        }
      (cv, parts)
    }
  }

  // ---- snapshot construction ----

  def snapshot(spark: SparkSession, dir: Path,
      version: Option[Long] = None, timestampMs: Option[Long] = None): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val log = listLog(conf, dir)
    require(log.commits.nonEmpty || log.checkpoints.nonEmpty || log.v2Checkpoints.nonEmpty,
      s"empty Delta log under $dir")

    val latest = (log.commits.map(_._1) ++ log.checkpoints.keys ++ log.v2Checkpoints.keys).max
    val target = version match {
      case Some(v) =>
        require(v >= 0 && v <= latest, s"version $v not in Delta log [0, $latest]")
        v
      case None => timestampMs match {
        case Some(ts) =>
          val stamped = log.commits.map { case (v, st) => (v, commitTimestamp(conf, st)) }
          val eligible = stamped.filter(_._2 <= ts)
          require(eligible.nonEmpty,
            s"no Delta commit at or before timestamp $ts (earliest is ${stamped.headOption.map(_._2).getOrElse(-1L)})")
          eligible.map(_._1).max
        case None => latest
      }
    }

    // prefer whichever checkpoint is newer; a v2 (UUID-named) checkpoint is
    // readable too — its sidecar files carry the file actions
    val cpBase = checkpointBase(spark, log, dir, target)
    // replay-completeness guard: without it, a log whose early JSON was
    // cleaned would silently replay a SUBSET of the table
    val tailFrom = cpBase.map(_._1).getOrElse(-1L)
    val tail = log.commits.map(_._1).filter(v => v > tailFrom && v <= target)
    require(tail == (tailFrom + 1 to target),
      s"Delta log under $dir is incomplete for version $target: commits " +
        s"${(tailFrom + 1 to target).diff(tail).mkString(",")} are missing and no " +
        "readable checkpoint covers them")

    var schemaString: Option[String] = None
    var partitionCols: Seq[String] = Nil
    var configuration: Map[String, String] = Map.empty
    var metaId: String = ""
    var protocolChecked = false
    val adds = scala.collection.mutable.LinkedHashMap[String, LakeFile]()
    // partition values arrive as strings; typed conversion needs the final
    // schema, so carry raw maps and convert once at the end
    val rawParts = scala.collection.mutable.HashMap[String, Map[String, Option[String]]]()
    val rawStats = scala.collection.mutable.HashMap[String, String]()

    var declaredProtocol = Protocol(1, 2, Nil, Nil)
    def applyProtocol(minReader: Int, minWriter: Int,
        readerFeatures: Seq[String], writerFeatures: Seq[String]): Unit = {
      protocolChecked = true
      declaredProtocol = Protocol(minReader, minWriter, readerFeatures, writerFeatures)
      if (minReader >= 3) {
        val unsupported = readerFeatures.filterNot(SupportedReaderFeatures)
        require(unsupported.isEmpty,
          s"Delta reader features not supported: ${unsupported.mkString(", ")} " +
            s"(supported: ${SupportedReaderFeatures.mkString(", ")})")
      } else require(minReader <= 2, s"minReaderVersion $minReader not supported")
    }

    def applyMetaData(schemaStr: String, parts: Seq[String], conf0: Map[String, String],
        id: String): Unit = {
      schemaString = Some(schemaStr)
      partitionCols = parts
      configuration = conf0
      metaId = id
    }

    val dvByPath = scala.collection.mutable.HashMap[String, DvDescriptor]()

    def applyAdd(path: String, size: Long, modTime: Long,
        parts: Map[String, Option[String]], dv: Option[DvDescriptor],
        stats: Option[String]): Unit = {
      adds(path) = LakeFile(resolvePath(dir, path), size, modTime, Nil)
      rawParts(path) = parts
      stats match {
        case Some(st) => rawStats(path) = st
        case None => rawStats.remove(path): Unit
      }
      // a re-add REPLACES the file's DV state either way (an OPTIMIZE or
      // DV-compacting rewrite re-adds the path without a deletionVector)
      dv match {
        case Some(d) => dvByPath(path) = d
        case None => dvByPath.remove(path): Unit
      }
    }

    def applyRemove(path: String): Unit = {
      adds.remove(path); rawParts.remove(path); dvByPath.remove(path): Unit
    }

    // 1. checkpoint base (classic parts, or a v2 main file + its sidecars)
    cpBase.foreach { case (_, parts) =>
      // v2 sidecars and the main file have DIFFERENT column sets; merge
      val cp = spark.read.option("mergeSchema", "true").parquet(parts: _*)
      val cols = cp.columns.toSet
      val rows = cp.select(
        (if (cols("add")) Seq(org.apache.spark.sql.functions.col("add")) else Nil) ++
        (if (cols("metaData")) Seq(org.apache.spark.sql.functions.col("metaData")) else Nil) ++
        (if (cols("protocol")) Seq(org.apache.spark.sql.functions.col("protocol")) else Nil): _*)
        .collect()
      rows.foreach { r =>
        val get = (n: String) => if (r.schema.fieldNames.contains(n)) Option(r.getAs[Row](n)) else None
        get("protocol").foreach { p =>
          // a hand-rolled checkpoint (or json-inferred one) may carry int64
          applyProtocol(p.getAs[Number]("minReaderVersion").intValue(),
            opt[Number](p, "minWriterVersion").map(_.intValue()).getOrElse(2),
            optSeq(p, "readerFeatures"), optSeq(p, "writerFeatures"))
        }
        get("metaData").foreach { m =>
          applyMetaData(m.getAs[String]("schemaString"),
            opt[scala.collection.Seq[String]](m, "partitionColumns").map(_.toSeq).getOrElse(Nil),
            opt[scala.collection.Map[String, String]](m, "configuration").map(_.toMap).getOrElse(Map.empty),
            opt[String](m, "id").getOrElse(""))
        }
        get("add").foreach { a =>
          // real checkpoints store partitionValues as map<string,string>; a
          // schema-inferred one (read.json) surfaces it as a struct
          val pv: Map[String, Option[String]] = opt[Any](a, "partitionValues") match {
            case Some(m: scala.collection.Map[_, _]) =>
              m.map { case (k, v) => k.toString -> Option(v).map(_.toString) }.toMap
            case Some(r: Row) =>
              r.schema.fieldNames.map(n => n -> opt[Any](r, n).map(_.toString)).toMap
            case _ => Map.empty
          }
          val dv = opt[Row](a, "deletionVector").map { d =>
            DvDescriptor(d.getAs[String]("storageType"), d.getAs[String]("pathOrInlineDv"),
              opt[Number](d, "offset").map(_.longValue()).getOrElse(0L),
              d.getAs[Number]("sizeInBytes").intValue(),
              d.getAs[Number]("cardinality").longValue())
          }
          applyAdd(a.getAs[String]("path"), a.getAs[Number]("size").longValue(),
            opt[Number](a, "modificationTime").map(_.longValue()).getOrElse(0L),
            pv, dv, opt[String](a, "stats"))
        }
      }
    }

    // 2. JSON commits after the checkpoint
    val fs = new Path(dir, "_delta_log").getFileSystem(conf)
    log.commits.filter { case (v, _) => v > tailFrom && v <= target }
      .foreach { case (_, st) =>
        readLines(fs, st).foreach { line =>
          val j = JsonMethods.parse(line)
          (j \ "protocol") match {
            case p: JObject =>
              applyProtocol((p \ "minReaderVersion").extract[Int],
                (p \ "minWriterVersion").extractOrElse[Int](2),
                (p \ "readerFeatures").extractOrElse[Seq[String]](Nil),
                (p \ "writerFeatures").extractOrElse[Seq[String]](Nil))
            case _ =>
          }
          (j \ "metaData") match {
            case m: JObject => applyMetaData(
              (m \ "schemaString").extract[String],
              (m \ "partitionColumns").extractOrElse[Seq[String]](Nil),
              (m \ "configuration").extractOrElse[Map[String, String]](Map.empty),
              (m \ "id").extractOrElse[String](""))
            case _ =>
          }
          (j \ "add") match {
            case a: JObject =>
              val parts = (a \ "partitionValues") match {
                case JObject(kv) => kv.map {
                  case (k, JString(s)) => k -> Some(s)
                  case (k, _) => k -> None
                }.toMap
                case _ => Map.empty[String, Option[String]]
              }
              val dv = (a \ "deletionVector") match {
                case d: JObject => Some(DvDescriptor(
                  (d \ "storageType").extract[String],
                  (d \ "pathOrInlineDv").extract[String],
                  (d \ "offset").extractOrElse[Long](0L),
                  (d \ "sizeInBytes").extract[Int],
                  (d \ "cardinality").extract[Long]))
                case _ => None
              }
              applyAdd((a \ "path").extract[String], (a \ "size").extract[Long],
                (a \ "modificationTime").extractOrElse[Long](0L), parts, dv,
                (a \ "stats") match { case JString(st) => Some(st); case _ => None })
            case _ =>
          }
          (j \ "remove") match {
            case r: JObject => applyRemove((r \ "path").extract[String])
            case _ =>
          }
        }
      }

    require(protocolChecked || schemaString.isDefined,
      s"Delta log under $dir has no protocol/metaData action")
    val cmapMode = configuration.getOrElse("delta.columnMapping.mode", "none")
    require(Set("none", "name", "id").contains(cmapMode),
      s"unknown delta.columnMapping.mode '$cmapMode'")
    val schema = DataType.fromJson(schemaString.getOrElse(
      throw new IllegalStateException(s"no metaData action in Delta log under $dir")))
      .asInstanceOf[StructType]
    // Column mapping (mode name or id): the parquet files and the add
    // actions' partitionValues use each field's PHYSICAL name, recorded in
    // the schema's field metadata. Physical names are immutable once
    // assigned (renames touch only the logical name), so physical-name
    // resolution is exact in both modes for protocol-conforming writers —
    // the protocol requires the physical name be written to every data
    // file's parquet schema whenever mapping is enabled.
    val physSchema: Option[StructType] =
      if (cmapMode == "none") None
      else Some(StructType(schema.fields.map(physicalField)))

    val partSchema = StructType(partitionCols.map(c => schema(schema.fieldIndex(c))))
    val physPartNames: Map[String, String] = physSchema match {
      case Some(ps) => partitionCols.map(c => c -> ps.fields(schema.fieldIndex(c)).name).toMap
      case None => Map.empty
    }
    val statsSchema = physSchema.getOrElse(schema)
    val keyed = adds.toSeq.map { case (key, f) =>
      val raw = rawParts(key)
      key -> f.copy(partitionValues = partSchema.map { pf =>
        val k = physPartNames.getOrElse(pf.name, pf.name)
        raw.get(k).orElse(raw.get(pf.name)).flatten
          .map(parsePartitionValue(_, pf.dataType)).orNull
      }, stats = rawStats.get(key).flatMap(parseStats(_, statsSchema)))
    }
    val snap = Snapshot(target, schema, partitionCols, keyed.map(_._2), dir,
      fileIds = keyed.map(_._1), dvs = dvByPath.toMap, physSchema = physSchema,
      configuration = configuration, metaId = metaId, statsJson = rawStats.toMap,
      protocol = declaredProtocol)
    validateVersionChecksum(conf, dir, snap)
    snap
  }

  /** delta-spark's version-checksum sidecar `_delta_log/<v>.crc`
    * (VersionChecksum): one JSON line of post-commit table state. Written
    * best-effort after every native commit; the crc is advisory — a failed
    * write never fails the already-committed transaction — but when one IS
    * present, replay validates against it and a mismatch fails LOUDLY
    * (silent state drift is how table corruption propagates to readers).
    * Reference behavior: delta-spark Checksum.scala; the reference gets it
    * from the delta-spark jar (spark/.../delta paths in
    * DeltaDataSourceCatalogUnit usage).
    */
  def writeVersionChecksum(spark: SparkSession, dir: Path, version: Long,
      base: Option[Snapshot] = None, actions: Seq[String] = Nil): Unit = try {
    val (numFiles, sizeBytes) = incrementalCrcState(base, actions, version)
      .getOrElse {
        val snap = snapshot(spark, dir, Some(version))
        (snap.files.size.toLong, snap.files.map(_.size).sum)
      }
    val conf = spark.sparkContext.hadoopConfiguration
    val crc = new Path(new Path(dir, "_delta_log"), f"$version%020d.crc")
    val json = JsonMethods.compact(JObject(
      "tableSizeBytes" -> JInt(BigInt(sizeBytes)),
      "numFiles" -> JInt(BigInt(numFiles)),
      "numMetadata" -> JInt(BigInt(1L)),
      "numProtocol" -> JInt(BigInt(1L))))
    graft.model.AtomicFile.atomicCreate(crc.getFileSystem(conf), crc,
      (json + "\n").getBytes("UTF-8")): Unit
  } catch { case _: Exception => () } // advisory: the commit already landed

  /** Post-commit (numFiles, tableSizeBytes) computed INCREMENTALLY from the
    * pre-commit snapshot plus this commit's own actions — O(actions) per
    * commit where a fresh log replay is O(versions), which made cumulative
    * commit cost quadratic in table history (delta-spark computes its
    * VersionChecksum incrementally the same way). Only valid when the
    * commit landed exactly one version past the base: a blind-append retry
    * that slid past a concurrent winner means unseen actions apply between
    * the base and this version, so the caller must fall back to replay
    * (returned None).
    */
  private def incrementalCrcState(base: Option[Snapshot], actions: Seq[String],
      version: Long): Option[(Long, Long)] = base match {
    case Some(snap) if snap.version == version - 1 && actions.nonEmpty =>
      implicit val formats: Formats = DefaultFormats
      // replay identity is the raw add-action path (same key `applyAdd`
      // replaces on), so a same-path re-add (DV update) nets to a size
      // delta, not a double count
      val sizes = scala.collection.mutable.HashMap[String, Long]()
      snap.fileIds.iterator.zip(snap.files.iterator).foreach {
        case (p, f) => sizes(p) = f.size
      }
      actions.foreach { line =>
        val j = JsonMethods.parse(line)
        (j \ "add") match {
          case a: JObject =>
            sizes((a \ "path").extract[String]) = (a \ "size").extract[Long]
          case _ =>
        }
        (j \ "remove") match {
          case r: JObject => sizes -= (r \ "path").extract[String]
          case _ =>
        }
      }
      Some((sizes.size.toLong, sizes.valuesIterator.sum))
    case _ => None
  }

  /** Validate a reconstructed snapshot against its version's `.crc`
    * sidecar, when present. Only the state this reader reconstructs is
    * judged (file count + total bytes); unknown fields from other writers
    * are ignored. Mismatch = the log replay and the writer's recorded
    * post-commit state disagree — corruption or a non-atomic log edit —
    * and must not be served silently.
    */
  private def validateVersionChecksum(conf: Configuration, dir: Path,
      snap: Snapshot): Unit = {
    val crc = new Path(new Path(dir, "_delta_log"), f"${snap.version}%020d.crc")
    val fs = crc.getFileSystem(conf)
    val recorded = try {
      if (!fs.exists(crc)) None
      else {
        val j = JsonMethods.parse(new String(readAllBytes(fs, crc), "UTF-8"))
        (j \ "numFiles", j \ "tableSizeBytes") match {
          case (JInt(nf), JInt(sz)) => Some((nf.toLong, sz.toLong))
          case _ => None // unreadable sidecar: advisory, ignore
        }
      }
    } catch { case _: Exception => None }
    recorded.foreach { case (nf, sz) =>
      val (gotNf, gotSz) = (snap.files.size.toLong, snap.files.map(_.size).sum)
      if (nf != gotNf || sz != gotSz)
        throw new IllegalStateException(
          s"Delta version checksum mismatch at $dir version ${snap.version}: " +
            s"$crc records numFiles=$nf tableSizeBytes=$sz but log replay " +
            s"reconstructs numFiles=$gotNf tableSizeBytes=$gotSz — the log was " +
            "modified non-atomically or is corrupt")
    }
  }

  private def readAllBytes(fs: org.apache.hadoop.fs.FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** One field renamed to its column-mapping physical name, recursively
    * through structs, arrays and maps. A field without the metadata keeps
    * its logical name (pre-upgrade tables assign physicalName = logical
    * name at enablement, so absence means identity).
    */
  private def physicalField(f: StructField): StructField = {
    val pname =
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.metadata.getString("delta.columnMapping.physicalName")
      else f.name
    StructField(pname, physicalType(f.dataType), f.nullable)
  }

  private def physicalType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(physicalField))
    case a: ArrayType => a.copy(elementType = physicalType(a.elementType))
    case m: MapType => m.copy(keyType = physicalType(m.keyType),
      valueType = physicalType(m.valueType))
    case other => other
  }

  private val SupportedReaderFeatures =
    Set("timestampNtz", "deletionVectors", "columnMapping", "typeWidening",
      "v2Checkpoint")

  /** Field access tolerant of schema-inferred checkpoints that omit empty
    * maps/arrays (a real writer's checkpoint always carries them).
    */
  private def opt[T](r: Row, name: String): Option[T] =
    if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
      Some(r.getAs[T](name))
    else None

  private def optSeq(r: Row, name: String): Seq[String] =
    opt[scala.collection.Seq[String]](r, name).map(_.toSeq).getOrElse(Nil)

  private def readLines(fs: org.apache.hadoop.fs.FileSystem, st: FileStatus): Seq[String] = {
    val in = fs.open(st.getPath)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      src.getLines().filter(_.trim.nonEmpty).toList
    } finally in.close()
  }

  private def commitTimestamp(conf: Configuration, st: FileStatus): Long = {
    val fs = st.getPath.getFileSystem(conf)
    val fromInfo = readLines(fs, st).iterator.map(JsonMethods.parse(_))
      .map(j => j \ "commitInfo" \ "timestamp")
      .collectFirst { case JInt(t) => t.toLong case JLong(t) => t }
    fromInfo.getOrElse(st.getModificationTime)
  }

  /** Parse an add action's `stats` JSON into typed bounds. Values convert
    * per the (physical) schema field type; unparseable or unsupported
    * columns simply drop — skipping stays conservative.
    */
  private[lake] def parseStats(json: String, physSchema: StructType): Option[FileStats] = try {
    val j = JsonMethods.parse(json)
    def typed(name: String, v: JValue): Option[Any] = {
      val dt = physSchema.fields.find(_.name == name).map(_.dataType)
      (dt, v) match {
        case (Some(IntegerType), JInt(x)) => Some(x.toInt)
        case (Some(LongType), JInt(x)) => Some(x.toLong)
        case (Some(ShortType), JInt(x)) => Some(x.toShort)
        case (Some(ByteType), JInt(x)) => Some(x.toByte)
        case (Some(DoubleType), JDouble(x)) => Some(x)
        case (Some(DoubleType), JInt(x)) => Some(x.toDouble)
        case (Some(FloatType), JDouble(x)) => Some(x.toFloat)
        case (Some(FloatType), JInt(x)) => Some(x.toFloat)
        case (Some(StringType), JString(x)) => Some(x)
        case (Some(BooleanType), JBool(x)) => Some(x)
        case _ => None
      }
    }
    def boundMap(field: String): Map[String, Any] = (j \ field) match {
      case JObject(kv) => kv.flatMap { case (k, v) => typed(k, v).map(k -> _) }.toMap
      case _ => Map.empty
    }
    val nulls: Map[String, Long] = (j \ "nullCount") match {
      case JObject(kv) => kv.collect { case (k, JInt(x)) => k -> x.toLong }.toMap
      case _ => Map.empty
    }
    val n = (j \ "numRecords") match {
      case JInt(x) => Some(x.toLong)
      case _ => None
    }
    Some(FileStats(n, boundMap("minValues"), boundMap("maxValues"), nulls))
  } catch { case _: Exception => None }

  /** Delta add.path is a URI-encoded path relative to the table root (or an
    * absolute URI for shallow clones / external files).
    */
  private[lake] def resolvePath(dir: Path, p: String): String = {
    val uri = new URI(p)
    if (uri.isAbsolute) new Path(uri).toString
    else new Path(dir, new Path(uri)).toString
  }

  /** Partition-value deserialization per the Delta protocol's string
    * serialization rules.
    */
  private[lake] def parsePartitionValue(s: String, dt: DataType): Any = dt match {
    case StringType => s
    case IntegerType => s.toInt
    case LongType => s.toLong
    case ShortType => s.toShort
    case ByteType => s.toByte
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case BooleanType => s.toBoolean
    case _: DecimalType => new java.math.BigDecimal(s)
    case DateType => java.sql.Date.valueOf(s)
    case TimestampType => java.sql.Timestamp.valueOf(s)
    case other => throw new UnsupportedOperationException(
      s"partition column type $other not supported")
  }

  // ---- DataFrame assembly ----

  /** Above this many logically-deleted rows (summed descriptor
    * cardinalities) the decoded position set is left to AQE instead of a
    * broadcast hint — same ceiling rationale as IcebergLite's.
    */
  private val BroadcastDeleteRowCap = 8L * 1000 * 1000

  private val DvCols = Seq("__gfid", "__grix", "__gdfp", "__gdpos")

  /** Project a physically-named relation back to logical names and
    * declared schema order: one cast+alias per renamed top-level column
    * (casting a struct to a struct renames nested fields positionally —
    * pure projection, codegen'd, no data movement). `passthrough` columns
    * (the DV path's internal keys) ride along unchanged. Identity when the
    * snapshot has no column mapping — then this is just the schema-order
    * select the reader always needed.
    */
  private def restoreLogical(df: DataFrame, snap: Snapshot,
      passthrough: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val phys = snap.physSchema.getOrElse(snap.schema)
    val cols = snap.schema.fields.zip(phys.fields).map { case (lf, pf) =>
      if (pf.name == lf.name && pf.dataType == lf.dataType) col(s"`${lf.name}`")
      else col(s"`${pf.name}`").cast(lf.dataType).as(lf.name)
    } ++ passthrough.map(c => col(s"`$c`"))
    df.select(cols.toIndexedSeq: _*)
  }

  def toDataFrame(spark: SparkSession, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    val order = snap.schema.fieldNames.toIndexedSeq.map(col)
    if (snap.dvs.isEmpty) {
      val index = new LakeFileIndex(snap.tableDir, snap.files, snap.physPartitionSchema,
        snap.physDataSchema)
      // surface columns in declared schema order (partition cols interleave
      // per the table schema, not appended at the end), under logical names
      restoreLogical(GraftLakeBridge.parquetRelation(spark, index,
        snap.physPartitionSchema, snap.physDataSchema), snap, Nil)
    } else {
      // Deletion vectors: only files CARRYING a DV pay the delete
      // application — the rest scan exactly as before and union in
      // (post-OPTIMIZE, that is almost every file at scale). The file
      // identity rides as a synthetic partition column from log metadata;
      // row ordinals come from `_metadata.row_index`; application is the
      // broadcast bitmap probe when the descriptors bound it (dvFiltered),
      // else the exploded-positions anti-join with executor-side decode.
      DvCols.filter(snap.schema.fieldNames.contains).foreach { c =>
        throw new UnsupportedOperationException(
          s"table column '$c' collides with the DV reader's internal names")
      }
      val withDv = snap.files.zip(snap.fileIds).filter { case (_, id) => snap.dvs.contains(id) }
      val plain = snap.files.zip(snap.fileIds).filterNot { case (_, id) => snap.dvs.contains(id) }

      val plainDf =
        if (plain.isEmpty) None
        else Some(restoreLogical(GraftLakeBridge.parquetRelation(spark,
          new LakeFileIndex(snap.tableDir, plain.map(_._1), snap.physPartitionSchema,
            snap.physDataSchema),
          snap.physPartitionSchema, snap.physDataSchema), snap, Nil))

      val data = scanWithIds(spark, snap, withDv)
      val kept = dvFiltered(spark, snap, withDv, data).getOrElse {
        data.join(dvDeleteRows(spark, snap),
          col("__gfid") === col("__gdfp") && col("__grix") === col("__gdpos"), "left_anti")
      }.select(order: _*)
      plainDf.map(_.unionByName(kept)).getOrElse(kept)
    }
  }

  /** Bitmaps small enough to broadcast raw (the descriptors state their
    * encoded sizes up front, so the choice costs no IO). 64 MB of roaring
    * bytes is tens of millions of masked rows — far past where OPTIMIZE
    * should have compacted.
    */
  private val DvBroadcastByteCap = 64L << 20

  /** DV application as a broadcast membership FILTER ([[DvMasked]]): no
    * join, no exchange, the scan stays one codegen stage, and cost is a
    * per-scanned-row bitmap probe instead of a hash join against one row
    * per DELETED row (BASELINE.md "Round-8 merge-on-read READ evidence"
    * showed the exploded anti-join's read tax growing with the deleted
    * count). None = bitmaps exceed the
    * byte cap; the caller falls back to the distributed anti-join.
    */
  private def dvFiltered(spark: SparkSession, snap: Snapshot,
      withDv: Seq[(LakeFile, String)], data: DataFrame): Option[DataFrame] = {
    val totalBytes = withDv.iterator.map { case (_, id) => snap.dvs(id).sizeInBytes.toLong }.sum
    // BOTH caps: encoded bytes bound the broadcast, but roaring RUN
    // containers decode to orders of magnitude more (a few KB can encode a
    // billion-row range delete) — the descriptors' cardinality bounds the
    // decoded Array[Long] the probe actually holds
    val totalCard = withDv.iterator.map { case (_, id) => snap.dvs(id).cardinality }.sum
    if (totalBytes > DvBroadcastByteCap || totalCard > BroadcastDeleteRowCap) None
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val raw: Map[String, Array[Byte]] = withDv.map { case (_, id) =>
        val d = snap.dvs(id)
        val bytes = RoaringDv.resolvePath(snap.tableDir, d.storageType, d.pathOrInlineDv) match {
          case Some(p) => RoaringDv.readDvData(conf, p, d.offset, d.sizeInBytes)
          case None => RoaringDv.base85Decode(d.pathOrInlineDv).take(d.sizeInBytes)
        }
        id -> bytes
      }.toMap
      val bc = spark.sparkContext.broadcast(new DvMasked.BitmapHolder(raw))
      val bridge = org.apache.spark.sql.GraftSQLBridge
      val expr = DvMasked(bridge.expression(data.col("__gfid")),
        bridge.expression(data.col("__grix")), bc)
      Some(data.where(!bridge.column(expr)))
    }
  }

  /** The listed files under logical names plus `__gfid` (the raw add-action
    * path, served as a synthetic partition column) and `__grix`
    * (`_metadata.row_index`).
    */
  private def scanWithIds(spark: SparkSession, snap: Snapshot,
      files: Seq[(LakeFile, String)]): DataFrame = {
    import org.apache.spark.sql.functions._
    val dvPartSchema = StructType(snap.physPartitionSchema.fields :+
      StructField("__gfid", StringType, nullable = false))
    val idFiles = files.map { case (f, id) => f.copy(partitionValues = f.partitionValues :+ id) }
    restoreLogical(GraftLakeBridge.parquetRelation(spark,
        new LakeFileIndex(snap.tableDir, idFiles, dvPartSchema), dvPartSchema, snap.physDataSchema)
      .withColumn("__grix", col("_metadata.row_index")),
      snap, Seq("__gfid", "__grix"))
  }

  /** The snapshot's logically-deleted (fid, position) pairs, decoded
    * EXECUTOR-side (one task per vector, CRC-checked) so the driver never
    * materializes positions; broadcast when the descriptors bound the count
    * small.
    */
  private def dvDeleteRows(spark: SparkSession, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    // (fid, dvFilePath ["" = inline], inlineBitmap, offset, sizeInBytes)
    val descs: Seq[(String, String, Array[Byte], Long, Int)] =
      snap.dvs.toSeq.sortBy(_._1).map { case (id, d) =>
        RoaringDv.resolvePath(snap.tableDir, d.storageType, d.pathOrInlineDv) match {
          case Some(p) => (id, p.toString, Array.empty[Byte], d.offset, d.sizeInBytes)
          case None => (id, "", RoaringDv.base85Decode(d.pathOrInlineDv), 0L, d.sizeInBytes)
        }
      }
    val sconf = GraftLakeBridge.serializableConf(spark)
    import spark.implicits._
    val delRows = spark.createDataset(descs)
      .flatMap { case (fid, path, inline, offset, size) =>
        val bitmap =
          if (path.isEmpty) inline.take(size)
          else RoaringDv.readDvData(sconf.value, new Path(path), offset, size)
        RoaringDv.decodeBitmapArray(bitmap).iterator.map(pos => (fid, pos))
      }
      .toDF("__gdfp", "__gdpos")
    val totalDeleted = snap.dvs.valuesIterator.map(_.cardinality).sum
    if (totalDeleted <= BroadcastDeleteRowCap) broadcast(delRows) else delRows
  }

  /** Row-level-rewrite scan: EVERY live file with `__gfid`/`__grix`
    * identity columns, deletion vectors already applied (a rewritten file
    * must not resurrect logically-deleted rows).
    */
  def toDataFrameWithRowIds(spark: SparkSession, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    val data = scanWithIds(spark, snap, snap.files.zip(snap.fileIds))
    if (snap.dvs.isEmpty) data
    else {
      val withDv = snap.files.zip(snap.fileIds).filter { case (_, id) => snap.dvs.contains(id) }
      dvFiltered(spark, snap, withDv, data).getOrElse(
        data.join(dvDeleteRows(spark, snap),
          col("__gfid") === col("__gdfp") && col("__grix") === col("__gdpos"), "left_anti"))
    }
  }

  def read(spark: SparkSession, dir: Path, version: Option[Long] = None,
      timestampMs: Option[Long] = None): DataFrame =
    toDataFrame(spark, snapshot(spark, dir, version, timestampMs))

  /** Latest committed version (max of commit + checkpoint versions). */
  def latestVersion(spark: SparkSession, dir: Path): Long = {
    val log = listLog(spark.sparkContext.hadoopConfiguration, dir)
    require(log.commits.nonEmpty || log.checkpoints.nonEmpty || log.v2Checkpoints.nonEmpty,
      s"empty Delta log under $dir")
    (log.commits.map(_._1) ++ log.checkpoints.keys ++ log.v2Checkpoints.keys).max
  }

  /** Write a classic single-part checkpoint at the CURRENT version — the
    * protocol's replay accelerator: one parquet file holding the full table
    * state (protocol, metaData, every live add with its deletion vector,
    * and the txn high-water marks), plus `_last_checkpoint`. After this,
    * replay reads the checkpoint + the JSON tail; commits at or before the
    * checkpoint version are no longer needed for CURRENT-version reads
    * (history/time travel still wants them). Returns (version, state rows).
    *
    * Fidelity notes: remove tombstones are not carried (this reader — like
    * any state replay — ignores them in checkpoints; they only matter for
    * VACUUM bookkeeping, which here re-walks the log), and partition
    * values re-serialize from the typed snapshot values, exact for the
    * identity-partition types the native writers produce.
    */
  def writeCheckpoint(spark: SparkSession, dir: Path, v2: Boolean = false): (Long, Long) = {
    import org.apache.spark.sql.{Row => R}
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = snapshot(spark, dir)
    val log = listLog(conf, dir)
    val fs = new Path(dir, "_delta_log").getFileSystem(conf)

    // the protocol comes off the snapshot itself — replay tracks the last
    // protocol action through classic AND v2 checkpoint bases, so a table
    // whose newest base is a v2 checkpoint with a cleaned JSON tail keeps
    // its declared feature gates instead of resetting to 1/2
    val Protocol(minReader, minWriter, readerFeatures, writerFeatures) = snap.protocol

    // txn high-water marks: prior checkpoint (classic or v2) + JSON tail
    val txns = scala.collection.mutable.HashMap[String, Long]()
    val txnBase = checkpointBase(spark, log, dir, snap.version)
    txnBase.foreach { case (_, parts) =>
      val cp = spark.read.option("mergeSchema", "true").parquet(parts: _*)
      if (cp.columns.contains("txn"))
        cp.select("txn.appId", "txn.version")
          .where(org.apache.spark.sql.functions.col("appId").isNotNull)
          .collect().foreach { r =>
            val (a, v) = (r.getString(0), r.getAs[Number](1).longValue())
            if (txns.getOrElse(a, Long.MinValue) < v) txns(a) = v
          }
    }
    log.commits.filter { case (v, _) => v > txnBase.map(_._1).getOrElse(-1L) && v <= snap.version }
      .foreach { case (_, st) =>
        readLines(fs, st).foreach { line =>
          val j = JsonMethods.parse(line)
          (j \ "txn") match {
            case t: JObject =>
              val a = (t \ "appId").extract[String]
              val v = (t \ "version").extract[Long]
              if (txns.getOrElse(a, Long.MinValue) < v) txns(a) = v
            case _ =>
          }
        }
      }

    val physPartNames = snap.physPartitionSchema.fieldNames
    def rawParts(f: LakeFile): Map[String, String] =
      physPartNames.zip(f.partitionValues).collect {
        case (k, v) if v != null => k -> v.toString
      }.toMap

    // an ITERATOR so the v2 path can stream shards without materializing
    // every add Row at once (the classic single-file form still must)
    def addStructs: Iterator[Row] = snap.fileIds.iterator.zip(snap.files.iterator)
      .map { case (id, f) =>
        val dv = snap.dvs.get(id).map(d =>
          R(d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)).orNull
        R(id, rawParts(f), f.size, f.modificationTime, true, dv,
          snap.statsJson.get(id).orNull)
      }
    val metaStruct =
      R(snap.metaId, snap.schema.json, snap.partitionColumns, snap.configuration)
    val protoStruct =
      R(minReader, minWriter,
        if (readerFeatures.isEmpty) null else readerFeatures,
        if (writerFeatures.isEmpty) null else writerFeatures)
    val txnStructs = txns.toSeq.sortBy(_._1).map { case (a, v) => R(a, v) }

    val AddDdl =
      """add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>, size: BIGINT,
        |  modificationTime: BIGINT, dataChange: BOOLEAN,
        |  deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING,
        |    offset: BIGINT, sizeInBytes: INT, cardinality: BIGINT>,
        |  stats: STRING>""".stripMargin
    val logDir = new Path(dir, "_delta_log")
    var lastCheckpointJson: Option[String] = None
    def mkDf(rows: Seq[Row], schema: StructType) = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
    val stateRows =
      if (!v2) {
        val schema = StructType.fromDDL(
          s"""txn STRUCT<appId: STRING, version: BIGINT>,
            |$AddDdl,
            |metaData STRUCT<id: STRING, schemaString: STRING,
            |  partitionColumns: ARRAY<STRING>, configuration: MAP<STRING, STRING>>,
            |protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT,
            |  readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>""".stripMargin)
        val rows = (txnStructs.map(t => R(t, null, null, null)) :+
          R(null, null, metaStruct, null) :+ R(null, null, null, protoStruct)) ++
          addStructs.map(a => R(null, a, null, null))
        val target = new Path(logDir, f"${snap.version}%020d.checkpoint.parquet")
        LakeWrite.writeOneParquetFile(mkDf(rows, schema).coalesce(1), target)
        rows.size.toLong
      } else {
        // v2 spec (delta-io PROTOCOL.md, V2 Checkpoint Table Features):
        // a UUID-named manifest `<v>.checkpoint.<uuid>.parquet` carrying
        // protocol + metaData + txn + checkpointMetadata + sidecar refs,
        // with the file actions in `_sidecars/<uuid>.parquet`. Readers
        // that only know classic checkpoints skip UUID-named files, so
        // this write is only chosen on request (CHECKPOINT ... V2) — and
        // the spec requires the table to DECLARE the gate first, else
        // feature-conforming readers lose the table once the JSON tail is
        // cleaned (the command path upgrades the protocol before calling)
        require(readerFeatures.contains("v2Checkpoint"),
          s"table $dir does not declare the v2Checkpoint reader feature; " +
            "upgrade the protocol (CHECKPOINT ... V2 via the command does " +
            "this) before writing a v2 checkpoint")
        val uuid = java.util.UUID.randomUUID().toString
        val sidecarSchema = StructType.fromDDL(AddDdl)
        // shard sidecars so a very large table never funnels its whole
        // file manifest through one parquet writer (delta-spark shards
        // the same way); 100k adds ≈ 10-30 MB per sidecar
        val sidecarFs = new Path(logDir, "_sidecars").getFileSystem(conf)
        val now = System.currentTimeMillis()
        var nAdds = 0L
        val sidecars = addStructs.grouped(100000).zipWithIndex.map { case (group, i) =>
          nAdds += group.size
          val name = s"$uuid-$i.parquet"
          val p = new Path(new Path(logDir, "_sidecars"), name)
          LakeWrite.writeOneParquetFile(
            mkDf(group.map(a => R(a)), sidecarSchema).coalesce(1), p)
          R(name, sidecarFs.getFileStatus(p).getLen, now)
        }.toSeq
        val mainSchema = StructType.fromDDL(
          """txn STRUCT<appId: STRING, version: BIGINT>,
            |metaData STRUCT<id: STRING, schemaString: STRING,
            |  partitionColumns: ARRAY<STRING>, configuration: MAP<STRING, STRING>>,
            |protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT,
            |  readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>,
            |checkpointMetadata STRUCT<version: BIGINT>,
            |sidecar STRUCT<path: STRING, sizeInBytes: BIGINT, modificationTime: BIGINT>""".stripMargin)
        val rows = (txnStructs.map(t => R(t, null, null, null, null)) :+
          R(null, metaStruct, null, null, null) :+
          R(null, null, protoStruct, null, null) :+
          R(null, null, null, R(snap.version), null)) ++
          sidecars.map(sc => R(null, null, null, null, sc))
        val target = new Path(logDir, f"${snap.version}%020d.checkpoint.$uuid.parquet")
        LakeWrite.writeOneParquetFile(mkDf(rows, mainSchema).coalesce(1), target)
        // v2 _last_checkpoint carries the discovery block delta-spark
        // writes, so external readers that trust it need not list the dir
        val scJson = sidecars.map(sc =>
          s"""{"path":"${sc.getString(0)}","sizeInBytes":${sc.getLong(1)}}""")
          .mkString("[", ",", "]")
        lastCheckpointJson = Some(
          s"""{"version":${snap.version},"size":${rows.size + nAdds},""" +
          s""""numOfAddFiles":$nAdds,"v2Checkpoint":{"path":"${target.getName}",""" +
          s""""sizeInBytes":${sidecarFs.getFileStatus(target).getLen},""" +
          s""""nonFileActions":${rows.size},"sidecarFiles":$scJson},""" +
          s""""checkpointSchema":${mainSchema.json}}""")
        rows.size + nAdds
      }
    val last = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try last.write(lastCheckpointJson.getOrElse(
      s"""{"version":${snap.version},"size":$stateRows}""").getBytes("UTF-8"))
    finally last.close()
    (snap.version, stateRows)
  }

  /** (version, commit timestamp) for every JSON commit, cheap form: reads
    * each commit's leading commitInfo line (or falls back to the file
    * mtime) — never the full action list. What age-based retention wants.
    */
  def commitTimestamps(spark: SparkSession, dir: Path): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    listLog(conf, dir).commits.map { case (v, st) => (v, commitTimestamp(conf, st)) }
  }

  /** FS modification time of the newest commit json in `_delta_log` — the
    * commit clock in the FILESYSTEM's own domain (unlike commitInfo
    * timestamps, which carry the writing host's clock). Vacuum's
    * in-flight-writer guard compares data-file mtimes against this.
    */
  private[lake] def latestCommitFileMtime(conf: Configuration, dir: Path): Option[Long] =
    listLog(conf, dir).commits.map(_._2.getModificationTime).maxOption

  /** Commit history, newest first: (version, timestampMs, operation,
    * addedFiles, removedFiles). The operation derives from the commit's
    * action shape — the log itself is the source of truth, so histories
    * written by ANY engine classify consistently: cdc actions = DML,
    * metaData at v0 = CREATE TABLE, metaData-only = ALTER TABLE,
    * dataChange=false motion = OPTIMIZE, adds+removes = REWRITE, adds =
    * WRITE, removes = DELETE.
    */
  def history(spark: SparkSession, dir: Path): Seq[(Long, Long, String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val log = listLog(conf, dir)
    val fs = new Path(dir, "_delta_log").getFileSystem(conf)
    log.commits.sortBy(-_._1).map { case (v, st) =>
      var meta = false; var cdc = false; var dvAdds = false
      var recorded: Option[String] = None
      var addsDc = 0L; var removesDc = 0L; var addsNoDc = 0L; var removesNoDc = 0L
      readLines(fs, st).foreach { line =>
        val j = JsonMethods.parse(line)
        if ((j \ "metaData").isInstanceOf[JObject]) meta = true
        if ((j \ "cdc").isInstanceOf[JObject]) cdc = true
        (j \ "commitInfo" \ "operation") match {
          case JString(o) if o.nonEmpty => recorded = Some(o)
          case _ =>
        }
        (j \ "add") match {
          case a: JObject =>
            if ((a \ "dataChange").extractOrElse[Boolean](true)) addsDc += 1 else addsNoDc += 1
            if ((a \ "deletionVector").isInstanceOf[JObject]) dvAdds = true
          case _ =>
        }
        (j \ "remove") match {
          case r: JObject =>
            if ((r \ "dataChange").extractOrElse[Boolean](true)) removesDc += 1 else removesNoDc += 1
          case _ =>
        }
      }
      val op =
        // a writer that RECORDED its operation (delta-spark always does,
        // this engine does where the shape is ambiguous, e.g. RESTORE) is
        // authoritative; shape derivation is the cross-engine fallback
        if (recorded.isDefined) recorded.get
        else if (cdc) "DML"
        else if (meta && v == 0) "CREATE TABLE"
        else if (meta && addsDc + removesDc + addsNoDc + removesNoDc == 0) "ALTER TABLE"
        else if (addsDc + removesDc == 0 && addsNoDc + removesNoDc > 0) "OPTIMIZE"
        // adds carrying deletion vectors = a DV delete (remove+add pairs
        // in the delta-spark spelling, add-only in older logs)
        else if (addsDc > 0 && dvAdds) "DELETE"
        else if (addsDc > 0 && removesDc > 0) "REWRITE"
        else if (addsDc > 0) "WRITE"
        else if (removesDc > 0) "DELETE"
        else "EMPTY"
      (v, commitTimestamp(conf, st), op, addsDc + addsNoDc, removesDc + removesNoDc)
    }
  }

  /** The `_change_data/` files the given versions' commits reference —
    * vacuum's CDF protection set: change files are reachable only through
    * cdc ACTIONS (state replay ignores them), so an orphan walk that
    * tracked only data + DV files would delete the feed's bytes for
    * versions whose reads are still supported.
    */
  private[lake] def cdcFilePaths(conf: Configuration, dir: Path,
      versions: Seq[Long]): Seq[String] = {
    implicit val formats: Formats = DefaultFormats
    val log = listLog(conf, dir)
    val fs = new Path(dir, "_delta_log").getFileSystem(conf)
    val want = versions.toSet
    log.commits.filter { case (v, _) => want(v) }.flatMap { case (_, st) =>
      readLines(fs, st).flatMap { line =>
        val j = JsonMethods.parse(line)
        (j \ "cdc") match {
          case c: JObject => Some(resolvePath(dir, (c \ "path").extract[String]))
          case _ => None
        }
      }
    }
  }

  /** The highest `txn` version committed for `appId` (the protocol's
    * idempotent-writer marker) — checkpoint txn column plus every later
    * JSON commit. None = this appId never wrote.
    */
  def lastTxnVersion(spark: SparkSession, dir: Path, appId: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val log = listLog(conf, dir)
    if (log.commits.isEmpty && log.checkpoints.isEmpty && log.v2Checkpoints.isEmpty)
      return None
    var best: Option[Long] = None
    def offer(v: Long): Unit = if (best.forall(_ < v)) best = Some(v)
    // v2-aware base: missing a v2 checkpoint here would forget the txn
    // high-water mark and re-apply already-committed streaming batches
    val base = checkpointBase(spark, log, dir, Long.MaxValue)
    base.foreach { case (_, parts) =>
      val cp = spark.read.option("mergeSchema", "true").parquet(parts: _*)
      if (cp.columns.contains("txn"))
        cp.select("txn.appId", "txn.version").where(org.apache.spark.sql.functions
            .col("appId") === appId)
          .collect().foreach(r => offer(r.getAs[Number]("version").longValue()))
    }
    val fs = new Path(dir, "_delta_log").getFileSystem(conf)
    log.commits.filter { case (v, _) => v > base.map(_._1).getOrElse(-1L) }
      .foreach { case (_, st) =>
        readLines(fs, st).foreach { line =>
          val j = JsonMethods.parse(line)
          (j \ "txn") match {
            case t: JObject if (t \ "appId") == JString(appId) =>
              offer((t \ "version").extract[Long])
            case _ =>
          }
        }
      }
    best
  }

  /** Streaming append batch: the rows of data files ADDED in commits
    * `[fromVersion, toVersion]`, under the delta-spark streaming-source
    * contract — a pure-delete commit needs `ignoreDeletes` (or
    * `ignoreChanges`) and contributes nothing; an update/rewrite commit
    * (adds AND removes) needs `ignoreChanges` and RE-EMITS the rewritten
    * files' rows (exactly delta's documented ignoreChanges behavior);
    * `dataChange=false` commits (OPTIMIZE) stream nothing. An added file's
    * own deletion vector applies, so a DV-carrying add streams only its
    * visible rows.
    */
  private[lake] def appendBatch(spark: SparkSession, dir: Path,
      fromVersion: Long, toVersion: Long,
      ignoreChanges: Boolean, ignoreDeletes: Boolean): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val endSnap = snapshot(spark, dir, version = Some(toVersion))
    val log = listLog(conf, dir)
    val inRange = log.commits
      .filter { case (v, _) => v >= fromVersion && v <= toVersion }.sortBy(_._1)
    require(inRange.map(_._1) == (fromVersion to toVersion),
      s"Delta commit files missing inside stream range [$fromVersion, $toVersion]")
    val physPartNames: Map[String, String] = endSnap.physSchema match {
      case Some(ps) => endSnap.partitionColumns
        .map(c => c -> ps.fields(endSnap.schema.fieldIndex(c)).name).toMap
      case None => Map.empty
    }
    def typedParts(raw: Map[String, Option[String]]): Seq[Any] =
      endSnap.partitionSchema.map { pf =>
        val k = physPartNames.getOrElse(pf.name, pf.name)
        raw.get(k).orElse(raw.get(pf.name)).flatten
          .map(parsePartitionValue(_, pf.dataType)).orNull
      }
    val fs = new Path(dir, "_delta_log").getFileSystem(conf)
    val frames = Seq.newBuilder[DataFrame]
    inRange.foreach { case (v, st) =>
      var adds = Vector.empty[(String, LakeFile, Option[DvDescriptor])]
      var removes = 0
      readLines(fs, st).foreach { line =>
        val j = JsonMethods.parse(line)
        (j \ "add") match {
          case a: JObject if (a \ "dataChange").extractOrElse[Boolean](true) =>
            val raw: Map[String, Option[String]] = (a \ "partitionValues") match {
              case JObject(kv) => kv.map {
                case (k, JString(s)) => k -> Some(s)
                case (k, _) => k -> None
              }.toMap
              case _ => Map.empty
            }
            val dv = (a \ "deletionVector") match {
              case d: JObject => Some(DvDescriptor(
                (d \ "storageType").extract[String],
                (d \ "pathOrInlineDv").extract[String],
                (d \ "offset").extractOrElse[Long](0L),
                (d \ "sizeInBytes").extract[Int],
                (d \ "cardinality").extract[Long]))
              case _ => None
            }
            val p = (a \ "path").extract[String]
            adds :+= ((p, LakeFile(resolvePath(dir, p), (a \ "size").extract[Long],
              (a \ "modificationTime").extractOrElse[Long](0L), typedParts(raw)), dv))
          case _ =>
        }
        (j \ "remove") match {
          case r: JObject if (r \ "dataChange").extractOrElse[Boolean](true) => removes += 1
          case _ =>
        }
      }
      if (removes > 0 && adds.isEmpty)
        require(ignoreDeletes || ignoreChanges,
          s"version $v deletes data from the streamed table; set ignoreDeletes " +
            "(or ignoreChanges) to skip delete commits")
      // a DV-carrying add is a visibility rewrite of an existing file
      // (deletion-vector DELETE, committed as a remove+add pair): name it
      // specifically before the generic update error
      if (adds.exists(_._3.isDefined))
        require(ignoreChanges,
          s"version $v deletes rows via deletion vectors; set ignoreChanges to " +
            "re-emit the affected files' visible rows")
      if (removes > 0 && adds.nonEmpty)
        require(ignoreChanges,
          s"version $v updates data in the streamed table; set ignoreChanges to " +
            "re-emit the rewritten files (downstream must tolerate duplicates)")
      if (adds.nonEmpty)
        frames += toDataFrame(spark, Snapshot(v, endSnap.schema,
          endSnap.partitionColumns, adds.map(_._2), dir,
          fileIds = adds.map(_._1),
          dvs = adds.collect { case (id, _, Some(d)) => id -> d }.toMap,
          physSchema = endSnap.physSchema))
    }
    val built = frames.result()
    if (built.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], endSnap.schema)
    else built.reduce(_.unionByName(_))
  }

  // ---- Change Data Feed (delta.io protocol "Change Data Files") ----

  /** CDF metadata columns appended to the table schema by [[changes]]. */
  val CdfTypeCol = "_change_type"
  val CdfVersionCol = "_commit_version"
  val CdfTimestampCol = "_commit_timestamp"

  /** Table-changes read over commits `[fromVersion, toVersion]` (both
    * inclusive; `toVersion` defaults to the latest version), per the public
    * Delta protocol's CDF contract:
    *
    *  - a commit carrying `cdc` actions: the change rows are EXACTLY the
    *    `_change_data/` files those actions list (each row carries its
    *    `_change_type` in-file — `update_preimage` / `update_postimage` /
    *    `insert` / `delete`); the commit's add/remove actions describe the
    *    table-state transition only and contribute no change rows;
    *  - a commit without `cdc` actions: `add(dataChange=true)` files are
    *    wholesale inserts (blind append) and `remove(dataChange=true)`
    *    files are wholesale deletes (full-file delete, e.g. a partition
    *    DELETE) — the protocol requires CDF-enabled writers to emit `cdc`
    *    actions for every row-level rewrite, so a non-cdc commit carrying
    *    BOTH data-changing adds and removes (a copy-on-write rewrite
    *    recorded without change files) is rejected rather than guessed at;
    *  - `dataChange=false` commits (OPTIMIZE / clustering) move bytes, not
    *    rows: no change rows.
    *
    * Derived deletes read the removed file's rows AS OF the predecessor
    * version (its deletion vector, if any, still applied), so a DV-masked
    * row never "reappears" in the feed. Everything stays a distributed
    * parquet scan over exactly the changed files — per-commit work is
    * metadata-only on the driver, so a 100 TB table's feed costs only the
    * changed bytes.
    *
    * Schema drift inside the range is rejected (same posture as delta-spark
    * without schema-evolution mode); the end-of-range schema serves the
    * whole feed. Output = table schema + [[CdfTypeCol]], [[CdfVersionCol]],
    * [[CdfTimestampCol]].
    */
  def changes(spark: SparkSession, dir: Path, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = spark.sparkContext.hadoopConfiguration
    val log = listLog(conf, dir)
    require(log.commits.nonEmpty || log.checkpoints.nonEmpty || log.v2Checkpoints.nonEmpty,
      s"empty Delta log under $dir")
    val latest = (log.commits.map(_._1) ++ log.checkpoints.keys ++ log.v2Checkpoints.keys).max
    val to = toVersion.getOrElse(latest)
    require(fromVersion >= 0 && fromVersion <= to && to <= latest,
      s"CDF range [$fromVersion, ${toVersion.map(_.toString).getOrElse("latest")}] " +
        s"not within Delta log [0, $latest]")
    val endSnap = snapshot(spark, dir, version = Some(to))
    endSnap.schema.fieldNames.intersect(Seq(CdfTypeCol, CdfVersionCol, CdfTimestampCol))
      .foreach(c => throw new UnsupportedOperationException(
        s"table column '$c' collides with a CDF metadata column"))

    // live-file state entering the range, for derived full-file deletes
    val state = scala.collection.mutable.HashMap[String, (LakeFile, Option[DvDescriptor])]()
    if (fromVersion > 0) {
      val pre = snapshot(spark, dir, version = Some(fromVersion - 1))
      require(pre.schema == endSnap.schema,
        s"schema changed inside CDF range [$fromVersion, $to]; not supported")
      pre.fileIds.zip(pre.files).foreach { case (id, f) => state(id) = (f, pre.dvs.get(id)) }
    }

    val inRange = log.commits.filter { case (v, _) => v >= fromVersion && v <= to }.sortBy(_._1)
    require(inRange.map(_._1) == (fromVersion to to),
      s"Delta commit files missing inside CDF range [$fromVersion, $to] " +
        s"(have ${inRange.map(_._1).mkString(",")}); log truncated?")

    val physPartNames: Map[String, String] = endSnap.physSchema match {
      case Some(ps) => endSnap.partitionColumns
        .map(c => c -> ps.fields(endSnap.schema.fieldIndex(c)).name).toMap
      case None => Map.empty
    }
    def typedParts(raw: Map[String, Option[String]]): Seq[Any] =
      endSnap.partitionSchema.map { pf =>
        val k = physPartNames.getOrElse(pf.name, pf.name)
        raw.get(k).orElse(raw.get(pf.name)).flatten
          .map(parsePartitionValue(_, pf.dataType)).orNull
      }
    def lakeFile(path: String, size: Long, modTime: Long,
        raw: Map[String, Option[String]]): LakeFile =
      LakeFile(resolvePath(dir, path), size, modTime, typedParts(raw))

    val cdfField = StructField(CdfTypeCol, StringType, nullable = false)
    // `_change_data` files carry `_change_type` as an ordinary in-file
    // column (never partition-mapped, even under column mapping)
    val cdcSnapSchema = StructType(endSnap.schema.fields :+ cdfField)
    val cdcSnapPhys = endSnap.physSchema.map(ps => StructType(ps.fields :+ cdfField))

    val fs = new Path(dir, "_delta_log").getFileSystem(conf)
    val frames = Seq.newBuilder[DataFrame]
    inRange.foreach { case (v, st) =>
      val ts = new java.sql.Timestamp(commitTimestamp(conf, st))
      var cdc = Vector.empty[(String, Long, Map[String, Option[String]])]
      var adds = Vector.empty[(String, Long, Long, Map[String, Option[String]], Option[DvDescriptor], Boolean)]
      var removes = Vector.empty[(String, Boolean)]
      readLines(fs, st).foreach { line =>
        val j = JsonMethods.parse(line)
        def rawParts(v: JValue): Map[String, Option[String]] = (v \ "partitionValues") match {
          case JObject(kv) => kv.map {
            case (k, JString(s)) => k -> Some(s)
            case (k, _) => k -> None
          }.toMap
          case _ => Map.empty
        }
        (j \ "metaData" \ "schemaString") match {
          case JString(s) => require(DataType.fromJson(s) == endSnap.schema,
            s"schema changed at version $v inside CDF range [$fromVersion, $to]; not supported")
          case _ =>
        }
        (j \ "cdc") match {
          case c: JObject =>
            cdc :+= (((c \ "path").extract[String], (c \ "size").extract[Long], rawParts(c)))
          case _ =>
        }
        (j \ "add") match {
          case a: JObject =>
            val dv = (a \ "deletionVector") match {
              case d: JObject => Some(DvDescriptor(
                (d \ "storageType").extract[String],
                (d \ "pathOrInlineDv").extract[String],
                (d \ "offset").extractOrElse[Long](0L),
                (d \ "sizeInBytes").extract[Int],
                (d \ "cardinality").extract[Long]))
              case _ => None
            }
            adds :+= (((a \ "path").extract[String], (a \ "size").extract[Long],
              (a \ "modificationTime").extractOrElse[Long](0L), rawParts(a), dv,
              (a \ "dataChange").extractOrElse[Boolean](true)))
          case _ =>
        }
        (j \ "remove") match {
          case r: JObject =>
            removes :+= (((r \ "path").extract[String],
              (r \ "dataChange").extractOrElse[Boolean](true)))
          case _ =>
        }
      }

      def scan(files: Seq[(String, LakeFile, Option[DvDescriptor])],
          schema: StructType, phys: Option[StructType]): DataFrame =
        toDataFrame(spark, Snapshot(v, schema, endSnap.partitionColumns,
          files.map(_._2), dir, fileIds = files.map(_._1),
          dvs = files.collect { case (id, _, Some(d)) => id -> d }.toMap,
          physSchema = phys))

      if (cdc.nonEmpty) {
        frames += scan(cdc.map { case (p, size, raw) => (p, lakeFile(p, size, 0L, raw), None) },
            cdcSnapSchema, cdcSnapPhys)
          .withColumn(CdfVersionCol, lit(v)).withColumn(CdfTimestampCol, lit(ts))
      } else {
        val ins = adds.filter(_._6)
        val del = removes.filter(_._2)
        // DV rewrites commit remove+add PAIRS for the re-vectored file
        // (delta-spark's spelling, this engine's too as of r10) — name the
        // shape specifically before the generic rewrite error
        require(!ins.exists(_._5.isDefined),
          s"version $v re-adds files under new deletion vectors " +
            "(deletion-vector rewrite) without cdc actions; row-level changes " +
            "cannot be derived — was delta.enableChangeDataFeed set when it committed?")
        require(ins.isEmpty || del.isEmpty,
          s"version $v rewrites rows (data-changing adds AND removes) without cdc actions; " +
            "row-level changes cannot be derived — was delta.enableChangeDataFeed set when it committed?")
        // a data-changing RE-ADD of a live file (deletion-vector delete
        // committed without change files) is a row rewrite too
        ins.foreach { case (p, _, _, _, _, _) =>
          require(!state.contains(p),
            s"version $v re-adds live file '$p' (deletion-vector rewrite) without cdc " +
              "actions; row-level changes cannot be derived — was " +
              "delta.enableChangeDataFeed set when it committed?")
        }
        if (ins.nonEmpty)
          frames += scan(ins.map { case (p, size, mt, raw, dv, _) => (p, lakeFile(p, size, mt, raw), dv) },
              endSnap.schema, endSnap.physSchema)
            .withColumn(CdfTypeCol, lit("insert"))
            .withColumn(CdfVersionCol, lit(v)).withColumn(CdfTimestampCol, lit(ts))
        if (del.nonEmpty) {
          val resolved = del.map { case (p, _) =>
            val (f, dv) = state.getOrElse(p, throw new IllegalStateException(
              s"version $v removes '$p' which is not live entering the version (blind remove)"))
            (p, f, dv)
          }
          frames += scan(resolved, endSnap.schema, endSnap.physSchema)
            .withColumn(CdfTypeCol, lit("delete"))
            .withColumn(CdfVersionCol, lit(v)).withColumn(CdfTimestampCol, lit(ts))
        }
      }

      // table-state transition applies whether or not the commit carried cdc
      adds.foreach { case (p, size, mt, raw, dv, _) => state(p) = (lakeFile(p, size, mt, raw), dv) }
      removes.foreach { case (p, _) => state.remove(p): Unit }
    }

    val built = frames.result()
    if (built.isEmpty) {
      val out = StructType(endSnap.schema.fields ++ Seq(cdfField,
        StructField(CdfVersionCol, LongType, nullable = false),
        StructField(CdfTimestampCol, TimestampType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], out)
    } else built.reduce(_.unionByName(_))
  }
}
