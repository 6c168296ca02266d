package graft.sources.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftLakeBridge, SparkSession}
import org.apache.spark.sql.GraftLakeBridge.{LakeFile, LakeFileIndex}
import org.apache.spark.sql.types._
import org.apache.avro.generic.GenericRecord
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Native Apache Iceberg *reader*: walks `metadata/vN.metadata.json` →
  * snapshot → manifest-list (Avro) → manifests (Avro) → live parquet data
  * files, then hands data IO to Spark's parquet machinery via
  * [[LakeFileIndex]]. No iceberg-spark runtime jar required — the table
  * format is fully specified by the public Iceberg spec, manifests are
  * plain Avro containers ([[AvroLite]] decodes them), and data files are
  * plain parquet.
  *
  * Replaces the round-2..5 reflective-only adapter as the default read path
  * when the runtime jar is absent (reference:
  * v3.5/spark-extensions/.../IcebergCatalogUnit.scala:30-42 — the reference
  * defers to iceberg-spark's SparkCatalog; this rebuild reads the spec
  * directly so offline/minimal deployments still work).
  *
  * Supported: format v1 and v2 metadata, hadoop-style table directories
  * (`version-hint.text` or highest `vN.metadata.json`), snapshot selection
  * by id, by `TIMESTAMP AS OF`, and by named ref (branch/tag), PARQUET data
  * files, and v2 merge-on-read deletes of BOTH kinds: *position* deletes
  * (delete manifests → position-delete parquet files of (file_path, pos),
  * applied — when the manifests bound the count small — as a broadcast
  * per-file BITMAP FILTER on (file identity, `_metadata.row_index`) with
  * the delete seq >= data seq gate folded in at bitmap build, else as a
  * distributed anti-join) and *equality* deletes (Flink-CDC-style:
  * parquet files of the `equality_ids` columns, applied as
  * null-safe-equality anti-joins gated by the spec's STRICT delete seq >
  * data seq rule — see [[toDataFrame]]). Equality ids resolve to scalar
  * columns through struct nesting (dotted paths); ids inside list/map
  * elements are rejected with a clear error.
  *
  * Schema evolution: renames and drop/re-adds are SUPPORTED — when the
  * schema history shows either, the scan switches from name-based to
  * field-id parquet resolution (`parquet.field.id` requested-schema
  * metadata + spark.sql.parquet.fieldId.read.enabled, Spark's native
  * id-matching reader), the spec-correct column resolution rule. Files
  * lacking field ids then fail loudly instead of null-filling.
  *
  * Iceberg data files always carry every column (partition columns are
  * stored, not derived from paths), so correctness needs no partition
  * reconstruction; identity-transform partition values are still surfaced
  * to [[LakeFileIndex]] for metadata-level pruning.
  */
object IcebergLite {

  final case class Snapshot(
      snapshotId: Long,
      schema: StructType,
      /** identity-partition columns surfaced for pruning (may be empty) */
      partitionColumns: Seq[String],
      files: Seq[LakeFile],
      tableDir: Path,
      /** live position-delete files of this snapshot (empty = plain scan) */
      deleteFiles: Seq[DeleteFile] = Nil,
      /** per data file, aligned with `files`: (normalized manifest
        * file_path — the delete files' join key and the row-level-rewrite
        * file identity — and the file's data sequence number)
        */
      dataFileMeta: Seq[(String, Long)] = Nil,
      /** live equality-delete files of this snapshot */
      eqDeleteFiles: Seq[EqDeleteFile] = Nil,
      /** `schema` with `parquet.field.id` metadata at every level — Some
        * when the schema history shows a rename/re-add, flipping the scan
        * to Spark's field-id parquet resolution (name resolution would
        * misread those tables)
        */
      idSchema: Option[StructType] = None)

  /** One live position-delete parquet file: resolved path, size, its data
    * sequence number (deletes apply to data files with seq <= this), and
    * the manifest's record count (drives the broadcast decision).
    */
  final case class DeleteFile(path: String, size: Long, seq: Long, recordCount: Long)

  /** One live equality-delete parquet file: resolved path, size, its data
    * sequence number (equality deletes apply to data files with seq
    * STRICTLY LESS than this, per the spec's "strictly less" rule — a
    * same-commit insert of a deleted key must survive), the manifest's
    * record count, the spec's `equality_ids` field ids, and those ids
    * resolved to the current schema's top-level column names.
    */
  final case class EqDeleteFile(path: String, size: Long, seq: Long, recordCount: Long,
      equalityIds: Seq[Int], columns: Seq[String],
      loBounds: Map[Int, Array[Byte]] = Map.empty,
      hiBounds: Map[Int, Array[Byte]] = Map.empty)

  def isIcebergTable(conf: Configuration, dir: Path): Boolean = {
    val meta = new Path(dir, "metadata")
    val fs = meta.getFileSystem(conf)
    fs.exists(meta) && fs.listStatus(meta).exists(_.getPath.getName.endsWith(".metadata.json"))
  }

  // ---- metadata discovery ----

  private[lake] def currentMetadataFile(conf: Configuration, dir: Path): Path = {
    val metaDir = new Path(dir, "metadata")
    val fs = metaDir.getFileSystem(conf)
    require(fs.exists(metaDir), s"not an Iceberg table (no metadata dir): $dir")
    val hint = new Path(metaDir, "version-hint.text")
    if (fs.exists(hint)) {
      // the hint is ADVISORY: a torn read under a concurrent hint rewrite
      // falls back to the version-file listing scan below
      val v = (try readString(conf, hint) catch { case _: java.io.IOException => "" }).trim
      // the hint write is advisory and races under concurrent commits
      // (last writer wins, possibly with a stale version) — probe FORWARD
      // from it to the newest existing version file, exactly
      // HadoopTableOperations.findVersion's loop
      val numeric = v.forall(_.isDigit) && v.nonEmpty
      val fmts = Seq((n: Long) => s"v$n.metadata.json", (n: Long) => s"$n.metadata.json")
      val probed = if (!numeric) None else fmts.collectFirst {
        case fmt if fs.exists(new Path(metaDir, fmt(v.toLong))) =>
          var n = v.toLong
          while (fs.exists(new Path(metaDir, fmt(n + 1)))) n += 1
          new Path(metaDir, fmt(n))
      }
      probed.foreach(p => return p)
      if (!numeric) {
        val candidates = Seq(s"v$v.metadata.json", s"$v.metadata.json")
          .map(new Path(metaDir, _)).filter(fs.exists)
        if (candidates.nonEmpty) return candidates.head
      }
    }
    val all = fs.listStatus(metaDir).map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json"))
    require(all.nonEmpty, s"no *.metadata.json under $metaDir")
    // vN.metadata.json (hadoop tables) sort numerically; UUID-named metadata
    // (catalog tables) falls back to modification time
    val byVersion = all.flatMap { p =>
      """^v?(\d+)\.metadata\.json$""".r.findFirstMatchIn(p.getName).map(m => (m.group(1).toLong, p))
    }
    if (byVersion.nonEmpty) byVersion.maxBy(_._1)._2
    else all.maxBy(p => fs.getFileStatus(p).getModificationTime)
  }

  private[lake] def readString(conf: Configuration, p: Path): String = {
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // ---- schema JSON -> StructType (Iceberg spec "Appendix C: JSON serialization") ----

  private[lake] def toSparkType(j: JValue): DataType = toSparkTypeImpl(j, withIds = false)

  /** Same conversion but each struct field (at every nesting level) carries
    * its Iceberg field id as `parquet.field.id` metadata — the form Spark's
    * parquet reader resolves BY ID (spark.sql.parquet.fieldId.read.enabled),
    * which is the spec-correct column resolution across renames/re-adds.
    */
  private[lake] def toSparkTypeWithIds(j: JValue): DataType = toSparkTypeImpl(j, withIds = true)

  private def toSparkTypeImpl(j: JValue, withIds: Boolean): DataType = j match {
    case JString(s) => s match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "time" => LongType // micros-of-day; Spark has no TimeType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "timestamp_ns" => TimestampNTZType
      case "timestamptz_ns" => TimestampType
      case "string" => StringType
      case "uuid" => StringType
      case "binary" => BinaryType
      case dec if dec.startsWith("decimal") =>
        val m = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r.findFirstMatchIn(dec)
          .getOrElse(throw new IllegalArgumentException(s"bad decimal type: $dec"))
        DecimalType(m.group(1).toInt, m.group(2).toInt)
      case fx if fx.startsWith("fixed") => BinaryType
      case other => throw new UnsupportedOperationException(s"iceberg type $other")
    }
    case o: JObject => (o \ "type") match {
      case JString("struct") => StructType((o \ "fields") match {
        case JArray(fs) => fs.map { f =>
          val meta = ((f \ "id"), withIds) match {
            case (JInt(id), true) => new MetadataBuilder()
              .putLong("parquet.field.id", id.toLong).build()
            case _ => Metadata.empty
          }
          StructField((f \ "name").values.toString, toSparkTypeImpl(f \ "type", withIds),
            nullable = (f \ "required") match { case JBool(r) => !r; case _ => true },
            metadata = meta)
        }
        case _ => Nil
      })
      case JString("list") =>
        ArrayType(toSparkTypeImpl(o \ "element", withIds),
          containsNull = (o \ "element-required") match { case JBool(r) => !r; case _ => true })
      case JString("map") =>
        MapType(toSparkTypeImpl(o \ "key", withIds), toSparkTypeImpl(o \ "value", withIds),
          valueContainsNull = (o \ "value-required") match { case JBool(r) => !r; case _ => true })
      case other => throw new UnsupportedOperationException(s"iceberg type $other")
    }
    case other => throw new UnsupportedOperationException(s"iceberg type $other")
  }

  // ---- snapshot resolution ----

  def snapshot(spark: SparkSession, dir: Path,
      version: Option[String] = None, timestampMs: Option[Long] = None,
      /** time travel reads with the SNAPSHOT's schema (Iceberg's own
        * semantics: VERSION AS OF shows the columns of that time); false =
        * always the current schema — what [[changes]] needs, since the
        * changelog projects every snapshot's rows to one output schema
        */
      schemaAtSnapshot: Boolean = true): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val metaFile = currentMetadataFile(conf, dir)
    val meta = JsonMethods.parse(readString(conf, metaFile))
    implicit val formats: Formats = DefaultFormats

    val snapshots = (meta \ "snapshots") match {
      case JArray(ss) => ss
      case _ => Nil
    }
    if (snapshots.isEmpty) {
      // freshly created table (current-snapshot-id = -1): empty relation
      // with the declared schema; travel targets cannot resolve
      require(version.isEmpty && timestampMs.isEmpty,
        s"Iceberg table $dir has no snapshots")
      val emptySchemaJson: JValue = (meta \ "schemas") match {
        case JArray(ss) =>
          val cur = (meta \ "current-schema-id").extractOrElse[Int](0)
          ss.find(s => (s \ "schema-id").extractOrElse[Int](0) == cur)
            .getOrElse(throw new IllegalStateException(
              s"Iceberg metadata under $dir declares current-schema-id $cur " +
                "but no schema carries that id"))
        case _ => meta \ "schema"
      }
      return Snapshot(-1L, toSparkType(emptySchemaJson).asInstanceOf[StructType], Nil, Nil, dir)
    }

    def byId(id: Long): JValue = snapshots.find(s =>
      (s \ "snapshot-id").extract[Long] == id).getOrElse(
      throw new NoSuchElementException(s"snapshot $id not found in $metaFile"))

    val snap: JValue = version match {
      case Some(v) =>
        // VERSION AS OF: a snapshot id, or a named ref (branch/tag)
        val refs = (meta \ "refs") match { case o: JObject => o.obj.toMap; case _ => Map.empty[String, JValue] }
        refs.get(v) match {
          case Some(r) => byId((r \ "snapshot-id").extract[Long])
          case None => byId(v.toLong)
        }
      case None => timestampMs match {
        case Some(ts) =>
          // Iceberg semantics: timestamp travel resolves through the
          // snapshot-log (rollbacks truncate it and append a fresh entry,
          // so 'now' reaches the restored state, never an undone one);
          // metadata without a log falls back to snapshot timestamps.
          val logEntries = (meta \ "snapshot-log") match {
            case JArray(es) => es.map(e =>
              ((e \ "timestamp-ms").extract[Long], (e \ "snapshot-id").extract[Long]))
            case _ => Nil
          }
          if (logEntries.nonEmpty) {
            val eligible = logEntries.filter(_._1 <= ts)
            require(eligible.nonEmpty, s"no Iceberg snapshot at or before timestamp $ts")
            // same-millisecond entries: the LATER log entry wins (the log
            // is append-ordered; maxBy alone would keep the first max)
            byId(eligible.zipWithIndex.maxBy { case ((t, _), i) => (t, i) }._1._2)
          } else {
            val eligible = snapshots.filter(s => (s \ "timestamp-ms").extract[Long] <= ts)
            require(eligible.nonEmpty, s"no Iceberg snapshot at or before timestamp $ts")
            eligible.maxBy(s => (s \ "timestamp-ms").extract[Long])
          }
        case None =>
          val cur = (meta \ "current-snapshot-id").extract[Long]
          byId(cur)
      }
    }
    val snapId = (snap \ "snapshot-id").extract[Long]

    // schema selection (v2: schemas + current-schema-id; v1: inline): the
    // current schema, or — for explicit time travel — the schema-id the
    // chosen snapshot recorded (Iceberg's own travel semantics)
    val wantSchemaId: Int = {
      val cur = (meta \ "current-schema-id").extractOrElse[Int](0)
      if (schemaAtSnapshot && (version.isDefined || timestampMs.isDefined))
        (snap \ "schema-id") match {
          case JInt(i) => i.toInt
          case _ => cur // pre-v2 metadata without per-snapshot schema ids
        }
      else cur
    }
    val schemaJson: JValue = (meta \ "schemas") match {
      case JArray(ss) =>
        def byId(id: Int) = ss.find(s => (s \ "schema-id").extractOrElse[Int](0) == id)
        byId(wantSchemaId).getOrElse {
          val cur = (meta \ "current-schema-id").extractOrElse[Int](0)
          // a travel target's schema generation may have been pruned by
          // another engine: fall back to the CURRENT schema (never `last`,
          // which is an arbitrary guess); a missing CURRENT schema is
          // corrupt metadata and must be loud, not a misread
          byId(cur).getOrElse(throw new IllegalStateException(
            s"Iceberg metadata under $dir declares current-schema-id $cur " +
              s"but the schemas array has ids " +
              ss.map(s => (s \ "schema-id").extractOrElse[Int](0)).mkString(",")))
        }
      case _ => meta \ "schema"
    }
    val schema = toSparkType(schemaJson).asInstanceOf[StructType]

    // Column-resolution mode. By default parquet columns match by NAME
    // (Spark's ParquetFileFormat) — provably exact while no field id ever
    // changed its name and no name ever changed its id. When the schema
    // history shows a rename (same id, different names) or a drop/re-add
    // (same name, different ids), name resolution would silently misread
    // pre-evolution files (all-NULL renamed columns; a re-added name
    // surfacing the dead column's data), so the scan flips to Spark's
    // field-id parquet resolution: the requested schema carries each
    // field's id as `parquet.field.id` metadata and the reader matches ids
    // the files record (the Iceberg spec REQUIRES data files to carry
    // them). A pre-evolution file lacking ids fails loudly at scan time
    // rather than null-filling (spark.sql.parquet.fieldId.read.ignoreMissing
    // stays false).
    val needIdResolution: Boolean = (meta \ "schemas") match {
      case JArray(ss) if ss.size > 1 =>
        val bindings = ss.flatMap(s => fieldBindings(s \ "fields", "")).distinct
        bindings.groupBy(_._1).exists(_._2.map(_._2).distinct.size > 1) ||
          bindings.groupBy(_._2).exists(_._2.map(_._1).distinct.size > 1)
      case _ => false
    }
    val idSchema: Option[StructType] =
      if (needIdResolution) Some(toSparkTypeWithIds(schemaJson).asInstanceOf[StructType])
      else None

    // the default spec's fields: (spec field name, transform, source-id)
    val defaultSpecId = (meta \ "default-spec-id").extractOrElse[Int](0)
    val specFields: Seq[(String, String, Int)] = (meta \ "partition-specs") match {
      case JArray(specs) =>
        val defId = defaultSpecId
        specs.find(s => (s \ "spec-id").extractOrElse[Int](0) == defId)
          .map(s => (s \ "fields") match {
            case JArray(fs) => fs.map(f => ((f \ "name").extract[String],
              (f \ "transform").extract[String],
              (f \ "source-id").extractOrElse[Int](-1)))
            case _ => Nil
          }).getOrElse(Nil)
      case _ => Nil
    }
    // identity-partition column names (metadata-served values + pruning)
    val identityCols: Seq[String] = specFields.collect {
      case (n, "identity", _) => n
    }

    // manifest list (v2 / v1-with-list) or inline manifests (early v1);
    // each entry: (path, content 0=data 1=deletes, sequence number)
    val manifestPaths: Seq[(String, Int, Long, Int)] = (snap \ "manifest-list") match {
      case JString(ml) => readManifestList(conf, resolveUri(dir, ml))
      case _ => (snap \ "manifests") match {
        case JArray(ms) => ms.map(m => (m.extract[String], 0, 0L, defaultSpecId))
        case _ => throw new IllegalStateException(s"snapshot $snapId has neither manifest-list nor manifests")
      }
    }
    val (deleteManifests, dataManifests) = manifestPaths.partition(_._2 == 1)
    val allDeletes = deleteManifests.flatMap { case (mp, _, mseq, _) =>
      readDeleteManifestEntries(conf, dir, resolveUri(dir, mp), mseq)
    }
    val deleteFiles: Seq[DeleteFile] = allDeletes.collect { case Left(d) => d }
    // Resolve equality_ids against the CURRENT schema's top-level fields.
    // Under name resolution the current name is the only name an id ever
    // had (the evolution detector proved it), so name-based reads of the
    // delete files are exact; under field-id resolution the delete files'
    // columns are matched by id too (morScan annotates the delete read
    // schema), so pre-rename delete files keep applying.
    val topLevelById: Map[Int, String] = (schemaJson \ "fields") match {
      case JArray(fs) => fs.flatMap { f =>
        ((f \ "id"), (f \ "name")) match {
          case (JInt(id), JString(n)) => Some(id.toInt -> n)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    // equality ids resolve to DOTTED paths (top-level or struct-nested);
    // ids inside list/map elements reject — equality on collection
    // elements has no per-row join rendering
    val leafById: Map[Int, (String, DataType)] = schemaLeaves(schemaJson \ "fields", "")
    val eqDeleteFiles: Seq[EqDeleteFile] = allDeletes.collect { case Right(e) =>
      val cols = e.equalityIds.map(id => leafById.getOrElse(id,
        throw new UnsupportedOperationException(
          s"equality delete ${e.path} references field id $id, which does not " +
            s"resolve to a scalar column (top-level or struct-nested) of the " +
            s"current schema — equality deletes inside list/map elements are " +
            s"not supported"))._1)
      e.copy(columns = cols)
    }

    // Identity-partition pruning: serve the identity columns' values from
    // manifest metadata when EVERY file carries them (all-or-nothing — a
    // file written under an older spec may lack the field) and every
    // identity column has a type whose manifest Avro value converts
    // unambiguously. Serving from metadata is also the spec-correct read
    // for writers that omit identity-partitioned columns from data files.
    val idFields: Seq[(String, DataType)] =
      if (identityCols.nonEmpty && identityCols.forall(c =>
          schema.exists(_.name == c) && prunableType(schema(schema.fieldIndex(c)).dataType)))
        identityCols.map(c => c -> schema(schema.fieldIndex(c)).dataType)
      else Nil
    val fieldsById: Map[Int, (String, DataType)] = topLevelById.flatMap { case (id, n) =>
      schema.fields.find(_.name == n).map(f => id -> (n, f.dataType))
    }
    // hidden-partition transforms (bucket/truncate/day/...): each file's
    // TRANSFORMED partition value becomes a derived range/equality
    // constraint on the SOURCE column, pruned in LakeFileIndex exactly
    // like footer stats
    val transforms: Seq[IcebergTransforms.TransformField] = specFields.collect {
      case (n, tr, sid) if tr != "identity" && tr != "void" =>
        fieldsById.get(sid).map { case (cn, dt) =>
          IcebergTransforms.TransformField(n, tr, cn, dt)
        }
    }.flatten
    val filesWithVals = dataManifests.flatMap { case (mp, _, mseq, mSpec) =>
      // transform values only prove anything under the spec they were
      // WRITTEN with: a manifest from an older spec generation (e.g. a
      // narrower bucket width under the same field name) must not be
      // evaluated with the default spec's transforms — wrong pruning there
      // is silently missing rows, so those manifests scan unpruned
      readManifest(conf, dir, resolveUri(dir, mp), idFields, mseq, fieldsById,
        if (mSpec == defaultSpecId) transforms else Nil)
    }
    val pruning = idFields.nonEmpty && filesWithVals.nonEmpty && filesWithVals.forall(_._1._2.isDefined)
    val files =
      if (pruning) filesWithVals.map { case ((f, v), _) => f.copy(partitionValues = v.get) }
      else filesWithVals.map(_._1._1)
    Snapshot(snapId, schema, if (pruning) identityCols else Nil, files, dir,
      deleteFiles = deleteFiles,
      dataFileMeta = filesWithVals.map(_._2),
      eqDeleteFiles = eqDeleteFiles,
      idSchema = idSchema)
  }

  /** Types whose manifest-Avro partition value maps 1:1 onto the external
    * Spark value ([[AvroLite.toRowValue]] + CatalystTypeConverters). uuid /
    * fixed / timestamp variants are excluded — their Avro encodings need
    * id-aware handling, and mis-serving a partition value would be silent
    * wrong data, so those tables just keep the unpruned (still correct)
    * read-from-parquet path.
    */
  private def prunableType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | BooleanType | FloatType | DoubleType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Scalar leaves reachable through struct nesting only: field id ->
    * (dotted path, Spark type). List/map subtrees are excluded — equality
    * deletes on collection elements have no per-row join rendering.
    */
  private def schemaLeaves(fields: JValue, prefix: String): Map[Int, (String, DataType)] =
    fields match {
      case JArray(fs) => fs.flatMap { f =>
        ((f \ "id"), (f \ "name")) match {
          case (JInt(id), JString(n)) =>
            val path = prefix + n
            (f \ "type") match {
              case o: JObject if (o \ "type") == JString("struct") =>
                schemaLeaves(o \ "fields", path + ".").toSeq
              case _: JObject => Nil // list/map subtree
              case t => Seq(id.toInt -> (path, toSparkType(t)))
            }
          case _ => Nil
        }
      }.toMap
      case _ => Map.empty
    }

  /** The schema pruned to the given paths (everything nullable — a delete
    * row may carry null to null-safely match null data values), field
    * metadata preserved so id-resolution reads keep their ids.
    */
  private def pruneTo(struct: StructType, paths: Seq[Seq[String]]): StructType = {
    val byHead = paths.filter(_.nonEmpty).groupBy(_.head)
    StructType(struct.fields.flatMap { f =>
      byHead.get(f.name).map { sub =>
        val rest = sub.map(_.tail).filter(_.nonEmpty)
        f.dataType match {
          case s: StructType if rest.nonEmpty =>
            f.copy(dataType = pruneTo(s, rest), nullable = true)
          case _ => f.copy(nullable = true)
        }
      }
    })
  }

  /** (field-id, dotted-path) pairs for every field at any nesting depth of
    * one schema's `fields` array — the rename/readd detector's input.
    */
  private def fieldBindings(fields: JValue, prefix: String): Seq[(Int, String)] = fields match {
    case JArray(fs) => fs.flatMap { f =>
      val idName = ((f \ "id"), (f \ "name")) match {
        case (JInt(id), JString(n)) => Some((id.toInt, prefix + n))
        case _ => None
      }
      idName.toSeq.flatMap { case (id, path) =>
        Seq((id, path)) ++ ((f \ "type") match {
          case o: JObject => (o \ "type") match {
            case JString("struct") => fieldBindings(o \ "fields", path + ".")
            case JString("list") => (o \ "element") match {
              case e: JObject => fieldBindings(e \ "fields", path + ".element.")
              case _ => Nil
            }
            case JString("map") => (o \ "value") match {
              case v: JObject => fieldBindings(v \ "fields", path + ".value.")
              case _ => Nil
            }
            case _ => Nil
          }
          case _ => Nil
        })
      }
    }
    case _ => Nil
  }

  /** manifest-list entries -> (manifest_path, content, sequence_number,
    * partition_spec_id); content defaults to 0 (data), sequence to 0 and
    * spec to 0 for v1 lists that predate the fields.
    */
  private def readManifestList(conf: Configuration, p: Path): Seq[(String, Int, Long, Int)] =
    readAvroRecords(conf, p).map { r =>
      val path = r.get("manifest_path").toString
      def intField(n: String): Option[Int] = Option(r.getSchema.getField(n))
        .flatMap(f => Option(r.get(f.pos()))).map(_.asInstanceOf[Number].intValue())
      val content = intField("content").getOrElse(0)
      val seq = Option(r.getSchema.getField("sequence_number"))
        .flatMap(f => Option(r.get(f.pos()))).map(_.asInstanceOf[Number].longValue())
        .getOrElse(0L)
      (path, content, seq, intField("partition_spec_id").getOrElse(0))
    }

  /** An entry's data sequence number: explicit when present, else inherited
    * from the manifest-list entry's sequence number (the spec's inheritance
    * rule for entries written with null sequence numbers).
    */
  private def entrySeq(entry: GenericRecord, manifestSeq: Long): Long =
    Option(entry.getSchema.getField("sequence_number"))
      .flatMap(f => Option(entry.get(f.pos()))).map(_.asInstanceOf[Number].longValue())
      .getOrElse(manifestSeq)

  /** One manifest's live data files (status != 2/DELETED), each with its
    * identity-partition values when the file's partition struct carries all
    * of them (None = this file cannot participate in metadata pruning),
    * plus (normalized file_path, data sequence number) for delete
    * application.
    */
  private def readManifest(conf: Configuration, tableDir: Path, p: Path,
      identity: Seq[(String, DataType)], manifestSeq: Long,
      fieldsById: Map[Int, (String, DataType)] = Map.empty,
      transforms: Seq[IcebergTransforms.TransformField] = Nil)
      : Seq[((LakeFile, Option[Seq[Any]]), (String, Long))] =
    readAvroRecords(conf, p).flatMap { entry =>
      val status = entry.get("status").asInstanceOf[Int]
      if (status == 2) None // DELETED
      else {
        val df = entry.get("data_file").asInstanceOf[GenericRecord]
        Option(df.getSchema.getField("content")).map(f => df.get(f.pos()).asInstanceOf[Int])
          .filter(_ != 0).foreach { c =>
            throw new UnsupportedOperationException(
              s"delete files in a data manifest are invalid (data_file content=$c in $p)")
          }
        val rawPath = df.get("file_path").toString
        val format = df.get("file_format").toString.toUpperCase
        require(format == "PARQUET",
          s"only PARQUET data files are supported (found $format)")
        val path = resolveUri(tableDir, rawPath).toString
        val size = df.get("file_size_in_bytes").asInstanceOf[Long]
        val stats = transformStats(df, transforms, entryStats(df, fieldsById))
        Some((LakeFile(path, size, 0L, Nil,
          stats = stats) -> identityValues(df, identity),
          normPath(rawPath) -> entrySeq(entry, manifestSeq)))
      }
    }

  /** Derived per-file constraints from the file's TRANSFORMED partition
    * values, merged under the manifest's own column bounds (those are
    * exact and win on overlap): range transforms (day/hour/month/year/
    * truncate) become [min, max] windows on the source column; bucket
    * becomes an equality-only test. A null transform value, unknown
    * transform, or unconvertible type contributes nothing (conservative).
    */
  private def transformStats(df: GenericRecord,
      transforms: Seq[IcebergTransforms.TransformField],
      base: Option[org.apache.spark.sql.GraftLakeBridge.FileStats]):
      Option[org.apache.spark.sql.GraftLakeBridge.FileStats] = {
    if (transforms.isEmpty) return base
    val pr = Option(df.getSchema.getField("partition"))
      .map(f => df.get(f.pos()))
      .collect { case r: GenericRecord => r }
      .getOrElse(return base)
    var mins = Map.empty[String, Any]
    var maxs = Map.empty[String, Any]
    var eqs = Map.empty[String, Any => Boolean]
    transforms.foreach { t =>
      val pf = pr.getSchema.getField(t.specName)
      if (pf != null) {
        val raw = try AvroLite.toRowValue(pr.get(pf.pos()), pf.schema())
        catch { case _: Exception => null }
        if (raw != null) {
          IcebergTransforms.bounds(t.transform, t.sourceType, raw).foreach {
            case (mn, mx) => mins += t.sourceCol -> mn; maxs += t.sourceCol -> mx
          }
          if (t.transform.startsWith("bucket["))
            eqs += t.sourceCol -> IcebergTransforms.bucketKeep(t.transform, t.sourceType, raw)
        }
      }
    }
    if (mins.isEmpty && eqs.isEmpty) base
    else base match {
      case Some(st) => Some(st.copy(min = mins ++ st.min, max = maxs ++ st.max,
        keepEq = eqs ++ st.keepEq))
      case None => Some(org.apache.spark.sql.GraftLakeBridge.FileStats(
        Option(df.get("record_count")).map(_.asInstanceOf[Long]),
        mins, maxs, Map.empty, keepEq = eqs))
    }
  }

  /** Decode lower/upper_bounds + null_value_counts + record_count into
    * [[org.apache.spark.sql.GraftLakeBridge.FileStats]], keyed by column
    * name; anything unreadable simply drops (skipping stays conservative).
    */
  private[lake] def entryStats(df: GenericRecord,
      fieldsById: Map[Int, (String, DataType)]):
      Option[org.apache.spark.sql.GraftLakeBridge.FileStats] = try {
    if (fieldsById.isEmpty) return None
    def kvMap(fieldName: String): Map[Int, Any] =
      Option(df.getSchema.getField(fieldName)).map(f => df.get(f.pos())) match {
        case Some(arr: java.util.Collection[_]) =>
          arr.toArray.flatMap {
            case r: GenericRecord => Some(r.get("key").asInstanceOf[Int] -> r.get("value"))
            case _ => None
          }.toMap
        case _ => Map.empty
      }
    def boundMap(fieldName: String): Map[String, Any] =
      kvMap(fieldName).flatMap { case (id, v) =>
        for {
          (name, dt) <- fieldsById.get(id)
          bytes <- v match {
            case bb: java.nio.ByteBuffer =>
              val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); Some(b)
            case b: Array[Byte] => Some(b)
            case _ => None
          }
          value <- LakeWrite.icebergBoundValue(dt, bytes)
        } yield name -> value
      }
    val nulls = kvMap("null_value_counts").flatMap { case (id, v) =>
      (fieldsById.get(id), v) match {
        case (Some((name, _)), n: java.lang.Long) => Some(name -> n.longValue())
        case _ => None
      }
    }
    val n = Option(df.get("record_count")).map(_.asInstanceOf[Long])
    val lo = boundMap("lower_bounds"); val hi = boundMap("upper_bounds")
    if (lo.isEmpty && hi.isEmpty && nulls.isEmpty) None
    else Some(org.apache.spark.sql.GraftLakeBridge.FileStats(n, lo, hi, nulls))
  } catch { case _: Exception => None }

  /** A manifest entry's lower/upper_bounds kv list as raw field-id-keyed
    * bytes — decoded lazily against whatever schema is in scope at use time
    * ([[LakeWrite.icebergBoundValue]]); unreadable shapes drop to empty
    * (consumers stay conservative without bounds).
    */
  private def rawBoundBytes(df: GenericRecord, fieldName: String): Map[Int, Array[Byte]] = try {
    Option(df.getSchema.getField(fieldName)).map(f => df.get(f.pos())) match {
      case Some(arr: java.util.Collection[_]) =>
        arr.toArray.flatMap {
          case r: GenericRecord =>
            val bytes = r.get("value") match {
              case bb: java.nio.ByteBuffer =>
                val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); Some(b)
              case b: Array[Byte] => Some(b)
              case _ => None
            }
            bytes.map(r.get("key").asInstanceOf[Int] -> _)
          case _ => None
        }.toMap
      case _ => Map.empty
    }
  } catch { case _: Exception => Map.empty }

  /** One delete manifest's live delete files: position deletes (content=1)
    * on the Left, equality deletes (content=2) on the Right. Equality
    * delete files name their match columns by field id (`equality_ids`);
    * resolution to column names happens in [[snapshot]], where the current
    * schema is in scope.
    */
  private[lake] def readDeleteManifestEntries(conf: Configuration, tableDir: Path, p: Path,
      manifestSeq: Long): Seq[Either[DeleteFile, EqDeleteFile]] =
    readAvroRecords(conf, p).flatMap { entry =>
      val status = entry.get("status").asInstanceOf[Int]
      if (status == 2) None // DELETED
      else {
        val df = entry.get("data_file").asInstanceOf[GenericRecord]
        val content = Option(df.getSchema.getField("content"))
          .map(f => df.get(f.pos()).asInstanceOf[Int]).getOrElse(0)
        def common(): (String, Long, Long) = {
          val format = df.get("file_format").toString.toUpperCase
          require(format == "PARQUET",
            s"only PARQUET delete files are supported (found $format in $p)")
          val path = resolveUri(tableDir, df.get("file_path").toString).toString
          val size = df.get("file_size_in_bytes").asInstanceOf[Long]
          val rows = Option(df.getSchema.getField("record_count"))
            .flatMap(f => Option(df.get(f.pos()))).map(_.asInstanceOf[Number].longValue())
            .getOrElse(Long.MaxValue)
          (path, size, rows)
        }
        content match {
          case 1 => // position deletes
            val (path, size, rows) = common()
            Some(Left(DeleteFile(path, size, entrySeq(entry, manifestSeq), rows)))
          case 2 => // equality deletes
            val (path, size, rows) = common()
            val ids = Option(df.getSchema.getField("equality_ids"))
              .flatMap(f => Option(df.get(f.pos())))
              .map(_.asInstanceOf[java.util.List[_]].toArray.toSeq
                .map(_.asInstanceOf[Number].intValue()))
              .getOrElse(throw new IllegalStateException(
                s"equality delete file without equality_ids in $p (invalid per spec)"))
            require(ids.nonEmpty, s"equality delete file with empty equality_ids in $p")
            // the manifest's own per-key bounds: for an eq-delete file they
            // are EXACT bounds on every masked row's key values, so the
            // conflict validator can judge overlap without re-reading the
            // delete parquet on every commit retry
            Some(Right(EqDeleteFile(path, size, entrySeq(entry, manifestSeq), rows, ids, Nil,
              rawBoundBytes(df, "lower_bounds"), rawBoundBytes(df, "upper_bounds"))))
          case c => throw new UnsupportedOperationException(
            s"data file with content=$c in a delete manifest is invalid ($p)")
        }
      }
    }

  /** The file-identity join key between data manifests and the file_path
    * column inside position-delete files: both are "the full URI" per the
    * spec, but writers vary the scheme spelling (`file:/x` vs `file:///x`
    * vs `/x`), so both sides collapse any scheme prefix to a bare absolute
    * path. Mirrored row-side by [[normPathColumn]]; a unit test pins the
    * two implementations to each other.
    */
  private[lake] val SchemePrefixRegex = "^[A-Za-z][A-Za-z0-9+.\\-]*:/+"

  private[lake] def normPath(p: String): String = p.replaceFirst(SchemePrefixRegex, "/")

  private[lake] def normPathColumn(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(c,
      org.apache.spark.sql.functions.lit(SchemePrefixRegex),
      org.apache.spark.sql.functions.lit("/"))

  /** The external-typed identity-partition values of one data_file, None if
    * any field is absent or its Avro value does not convert cleanly to the
    * declared Spark type (verified eagerly here so a mismatch degrades to
    * the unpruned path instead of failing — or worse, mis-serving — the scan).
    */
  private def identityValues(df: GenericRecord,
      identity: Seq[(String, DataType)]): Option[Seq[Any]] = {
    if (identity.isEmpty) return Some(Nil)
    val pr = Option(df.getSchema.getField("partition"))
      .map(f => df.get(f.pos()))
      .collect { case r: GenericRecord => r }
      .getOrElse(return None)
    try {
      val vs = identity.map { case (name, dt) =>
        val pf = pr.getSchema.getField(name)
        if (pf == null) return None
        val v = AvroLite.toRowValue(pr.get(pf.pos()), pf.schema())
        if (v != null) GraftLakeBridge.toCatalyst(v, dt) // throws on mismatch
        v
      }
      Some(vs)
    } catch { case _: Exception => None }
  }

  private def readAvroRecords(conf: Configuration, p: Path): Seq[GenericRecord] = {
    val in = new org.apache.avro.mapred.FsInput(p, conf)
    val reader = org.apache.avro.file.DataFileReader.openReader(in,
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer[GenericRecord]()
      while (reader.hasNext) buf += reader.next()
      buf.toSeq
    } finally reader.close()
  }

  /** Iceberg metadata stores RAW location strings — not percent-encoded,
    * unlike Delta's add.path — so they must NOT go through `new URI(p)`
    * (a path with a space would throw URISyntaxException; a literal '%'
    * would be mis-decoded). Hadoop's Path(String) treats the string as an
    * unescaped path and quotes illegal URI characters itself.
    */
  private[sources] def resolveUri(dir: Path, p: String): Path = {
    val hasScheme = p.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*")
    if (hasScheme || p.startsWith("/")) new Path(p)
    else new Path(dir, p)
  }

  // ---- DataFrame assembly ----

  /** Reserved internal column names of the merge-on-read anti-join. */
  private val MorCols = Seq("__gfid", "__gseq", "__grix", "__gdfp", "__gdpos", "__gdseq")

  /** Above this many delete rows (summed manifest record counts) the delete
    * side is left to AQE instead of being broadcast: ~24 B/row keyed, so
    * 8M rows ≈ 200 MB hashed — the sane single-executor ceiling.
    */
  private val BroadcastDeleteRowCap = 8L * 1000 * 1000

  /** Position-delete application as a broadcast per-data-file bitmap FILTER
    * (the same [[DvMasked]] probe the Delta DV read uses): one distributed
    * pass reads the delete parquet, applies the spec's sequence gate
    * (delete seq >= the data file's) executor-side through a
    * broadcast-joined fid -> dataSeq frame, groups + dedups + sorts the
    * qualifying positions per data file, and encodes each file's roaring
    * bitmap BEFORE collecting — the driver holds one row per data file
    * (path + compact bitmap bytes), never one JVM Row per deleted row.
    * The scan then filters through a codegen'd probe — no join against
    * the data side, no exchange on it, cost per SCANNED row instead of a
    * hash join against one row per DELETED row (BASELINE.md "Round-8
    * merge-on-read READ evidence"). The
    * caller's row cap (decided from manifest record counts before any IO)
    * stays the broadcast-SIZE gate; driver heap is bounded by live-file
    * count × bitmap bytes regardless of delete cardinality.
    */
  private def posBitmapFiltered(spark: SparkSession, snap: Snapshot,
      delRows: DataFrame, data: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val meta = spark.createDataFrame(snap.dataFileMeta.map {
      case (fid, seq) => Tuple2(fid, seq)
    }).toDF("__gmfp", "__gmseq")
    // typed Aggregator building each file's roaring bitmap INCREMENTALLY:
    // the agg buffer holds 8 KiB word blocks per touched container, never
    // an all-positions array — a file carrying tens of millions of
    // deleted rows costs its ordinal span in containers, not rows × 8 B
    // plus a sort, so the caller's row cap stays purely a broadcast-SIZE
    // gate
    val bmAgg = udaf(new RoaringDv.BitmapAgg,
      org.apache.spark.sql.Encoders.scalaLong)
    val perFile = delRows
      .join(broadcast(meta), col("__gdfp") === col("__gmfp") &&
        col("__gdseq") >= col("__gmseq"))
      .groupBy(col("__gdfp"))
      .agg(bmAgg(col("__gdpos")).as("__gbm"))
      .collect()
    val raw: Map[String, Array[Byte]] =
      perFile.map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    if (raw.isEmpty) data
    else {
      val bc = spark.sparkContext.broadcast(new DvMasked.BitmapHolder(raw))
      val bridge = org.apache.spark.sql.GraftSQLBridge
      val expr = DvMasked(bridge.expression(data.col("__gfid")),
        bridge.expression(data.col("__grix")), bc)
      data.where(!bridge.column(expr))
    }
  }

  /** The schema data columns read under — the id-annotated form when the
    * table's history demands field-id resolution. Never mutates session
    * state: `spark.sql.parquet.fieldId.read.enabled` is turned on once at
    * [[graft.catalog.GraftEnv.install]] (Spark reads the flag from the
    * session conf inside ParquetFileFormat, overwriting any per-relation
    * option, so a session-level set is the only lever). If a user has
    * explicitly disabled it since, fail loudly here — a name-resolved
    * read of a renamed/re-added column would silently null-fill.
    */
  private def readSchema(spark: SparkSession, snap: Snapshot): StructType =
    snap.idSchema match {
      case Some(s) =>
        require(spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false") == "true",
          "this Iceberg table's schema evolution requires field-id parquet resolution; " +
            "spark.sql.parquet.fieldId.read.enabled is off in this session — " +
            "call graft.Graft.install (which enables it) or set the flag to true")
        s
      case None => snap.schema
    }

  /** Project to `names`, stripping the field-id metadata the id-resolution
    * read path rides on the data columns (callers see the clean schema).
    */
  private def projectClean(df: DataFrame, names: Seq[String], clean: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!clean) df.select(names.map(col): _*)
    else df.select(names.map(n => col(s"`$n`").as(n, Metadata.empty)): _*)
  }

  def toDataFrame(spark: SparkSession, snap: Snapshot): DataFrame = {
    // Identity-partition columns (when the snapshot resolved values for
    // every file) are declared as the relation's partition schema: their
    // values are served from manifest metadata and filters on them prune in
    // LakeFileIndex.listFiles before any task launches. All other columns
    // read from parquet as data columns.
    val rs = readSchema(spark, snap)
    val identityFields = snap.partitionColumns.map(c => snap.schema(snap.schema.fieldIndex(c)))
    val dataSchema = StructType(rs.filterNot(f =>
      snap.partitionColumns.contains(f.name)))
    if (snap.deleteFiles.isEmpty && snap.eqDeleteFiles.isEmpty) {
      val partSchema = StructType(identityFields)
      val index = new LakeFileIndex(snap.tableDir, snap.files, partSchema, dataSchema)
      val df = GraftLakeBridge.parquetRelation(spark, index, partSchema, dataSchema)
      if (snap.partitionColumns.isEmpty && snap.idSchema.isEmpty) df
      else projectClean(df, snap.schema.fieldNames.toIndexedSeq, snap.idSchema.isDefined)
    } else projectClean(morScan(spark, snap, withRix = snap.deleteFiles.nonEmpty),
      snap.schema.fieldNames.toIndexedSeq, snap.idSchema.isDefined)
  }

  /** Row-level-rewrite scan: every live row with `__gfid` (the normalized
    * manifest file_path) and `__grix` (`_metadata.row_index`) identity
    * columns, position AND equality deletes already applied.
    */
  def toDataFrameWithRowIds(spark: SparkSession, snap: Snapshot): DataFrame =
    projectClean(morScan(spark, snap, withRix = true),
      snap.schema.fieldNames.toIndexedSeq ++ Seq("__gfid", "__grix"),
      snap.idSchema.isDefined)

  /** The delete-aware scan: `__gfid`/`__gseq` ride as synthetic partition
    * columns from manifest metadata, `__grix` from parquet's row index when
    * needed, and each delete family applies as one distributed LEFT ANTI
    * join. Output carries the internal columns; callers project.
    */
  private def morScan(spark: SparkSession, snap: Snapshot, withRix: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val rs = readSchema(spark, snap)
    val identityFields = snap.partitionColumns.map(c => snap.schema(snap.schema.fieldIndex(c)))
    val dataSchema = StructType(rs.filterNot(f =>
      snap.partitionColumns.contains(f.name)))
    locally {
      // Merge-on-read. Position deletes drop each data row whose (file,
      // ordinal) appears in a live position-delete file with sequence
      // number >= the data file's; equality deletes drop each data row
      // matching a delete row on all equality columns (null-safe) in a
      // delete file with sequence number STRICTLY > the data file's.
      // Spark-native shape: both the file-identity key and the sequence
      // number are served as synthetic *partition* columns from manifest
      // metadata (zero extra IO, still codegen'd), the row ordinal comes
      // from parquet's `_metadata.row_index` (row-group-skip-safe by
      // construction), and each delete family applies as one distributed
      // LEFT ANTI join — broadcast when the manifests bound the delete
      // side small, else a keyed shuffle that scales with the deletes,
      // never the data.
      snap.schema.fieldNames
        .filter(c => MorCols.contains(c) ||
          (snap.eqDeleteFiles.nonEmpty && c.startsWith("__ge_")))
        .foreach { c =>
          throw new UnsupportedOperationException(
            s"table column '$c' collides with the merge-on-read reader's internal names")
        }
      val hasPos = snap.deleteFiles.nonEmpty
      val partSchema = StructType(identityFields ++ Seq(
        StructField("__gfid", StringType, nullable = false),
        StructField("__gseq", LongType, nullable = false)))
      val files = snap.files.zip(snap.dataFileMeta).map { case (f, (fid, seq)) =>
        f.copy(partitionValues = f.partitionValues ++ Seq(fid, seq))
      }
      val index = new LakeFileIndex(snap.tableDir, files, partSchema)
      val data0 = GraftLakeBridge.parquetRelation(spark, index, partSchema, dataSchema)
      var data = if (hasPos || withRix) data0.withColumn("__grix", col("_metadata.row_index"))
        else data0

      if (hasPos) {
        val delPartSchema = StructType(Seq(StructField("__gdseq", LongType, nullable = false)))
        val delFiles = snap.deleteFiles.map(d => LakeFile(d.path, d.size, 0L, Seq(d.seq)))
        val delIndex = new LakeFileIndex(snap.tableDir, delFiles, delPartSchema)
        val delSchema = StructType(Seq(
          StructField("file_path", StringType, nullable = false),
          StructField("pos", LongType, nullable = false)))
        val delRows = GraftLakeBridge.parquetRelation(spark, delIndex, delPartSchema, delSchema)
          .select(normPathColumn(col("file_path")).as("__gdfp"),
            col("pos").as("__gdpos"), col("__gdseq"))
        val deleteRowCount = // saturating: absent record_count reads Long.MaxValue
          if (snap.deleteFiles.exists(_.recordCount == Long.MaxValue)) Long.MaxValue
          else snap.deleteFiles.map(_.recordCount).sum
        data =
          if (deleteRowCount <= BroadcastDeleteRowCap)
            posBitmapFiltered(spark, snap, delRows, data)
          else data.join(delRows,
            col("__gfid") === col("__gdfp") && col("__grix") === col("__gdpos") &&
              col("__gdseq") >= col("__gseq"),
            "left_anti")
      }

      // Equality deletes, one anti-join per distinct equality-column set
      // (files sharing a set read as one relation — a Flink CDC stream
      // emits hundreds of delete files over the SAME key columns, so the
      // common case is exactly one extra join regardless of file count).
      // Columns are DOTTED paths (struct-nested keys supported); the
      // delete read schema is the table schema PRUNED to those paths, so
      // under field-id resolution every level keeps its id metadata and
      // pre-rename delete files match by id exactly like the data files.
      snap.eqDeleteFiles.groupBy(_.columns).toSeq.sortBy(_._1.mkString(","))
        .foreach { case (cols0, group) =>
          val delPartSchema = StructType(Seq(StructField("__gdseq", LongType, nullable = false)))
          val delFiles = group.map(d => LakeFile(d.path, d.size, 0L, Seq(d.seq)))
          val delIndex = new LakeFileIndex(snap.tableDir, delFiles, delPartSchema)
          val delSchema = pruneTo(snap.idSchema.getOrElse(snap.schema),
            cols0.map(_.split('.').toSeq))
          val renamed = cols0.zipWithIndex.map { case (c, i) => (c, s"__ge_$i") }
          val delRows = GraftLakeBridge.parquetRelation(spark, delIndex, delPartSchema, delSchema)
            .select(renamed.map { case (c, a) => col(c).as(a) } :+ col("__gdseq"): _*)
          val rowCount =
            if (group.exists(_.recordCount == Long.MaxValue)) Long.MaxValue
            else group.map(_.recordCount).sum
          val delSide = if (rowCount <= BroadcastDeleteRowCap) broadcast(delRows) else delRows
          val cond = renamed.map { case (c, a) => col(c) <=> col(a) }
            .reduce(_ && _) && col("__gdseq") > col("__gseq")
          data = data.join(delSide, cond, "left_anti")
        }

      data
    }
  }

  def read(spark: SparkSession, dir: Path, version: Option[String] = None,
      timestampMs: Option[Long] = None): DataFrame =
    toDataFrame(spark, snapshot(spark, dir, version, timestampMs))

  // ---- incremental changelog (the shape of Iceberg's changelog scan /
  // create_changelog_view: per-snapshot insert/delete rows) ----

  /** Changelog metadata columns appended by [[changes]] (the Iceberg
    * changelog-view spellings).
    */
  val ChangeTypeCol = "_change_type"
  val ChangeOrdinalCol = "_change_ordinal"
  val ChangeSnapshotCol = "_commit_snapshot_id"

  /** The current snapshot's ancestry, OLDEST first:
    * (sequenceNumber, snapshotId, operation, parentId). Errors if a lineage
    * ancestor has been expired out of the metadata.
    */
  def snapshotLineage(spark: SparkSession, dir: Path): Seq[(Long, Long, String, Option[Long])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = JsonMethods.parse(readString(conf, currentMetadataFile(conf, dir)))
    implicit val formats: Formats = DefaultFormats
    val snapsJson = (meta \ "snapshots") match {
      case JArray(ss) => ss
      case _ => Nil
    }
    if (snapsJson.isEmpty) return Nil
    val info: Map[Long, (Long, String, Option[Long])] = snapsJson.map { s =>
      (s \ "snapshot-id").extract[Long] -> ((
        (s \ "sequence-number").extractOrElse[Long](0L),
        (s \ "summary" \ "operation").extractOrElse[String](""),
        (s \ "parent-snapshot-id") match {
          case JInt(p) => Some(p.toLong)
          case _ => None
        }))
    }.toMap
    var chain = List.empty[(Long, Long, String, Option[Long])]
    var at: Option[Long] = Some((meta \ "current-snapshot-id").extract[Long])
    while (at.isDefined) {
      val id = at.get
      val (seq, op, parent) = info.getOrElse(id,
        throw new IllegalStateException(
          s"snapshot $id on the current lineage has been expired from $dir metadata"))
      chain ::= ((seq, id, op, parent))
      at = parent
    }
    chain
  }

  /** Row-level changes between `fromSnapshot` (EXCLUSIVE — the Iceberg
    * `start-snapshot-id` convention; None = from table creation) and
    * `toSnapshot` (inclusive; None = current), walking the parent-snapshot
    * lineage oldest-first. Per snapshot:
    *
    *  - `replace` snapshots (compaction / rewrite maintenance) move bytes,
    *    not rows: no change rows;
    *  - data files present only in the snapshot scan as inserts, read AT
    *    that snapshot (same-sequence delete files already applied under the
    *    spec's sequence rules);
    *  - data files present only in the parent scan as deletes, read AT the
    *    parent (rows already masked there stay dead — they do not reappear
    *    in the feed);
    *  - for files live on both sides whose delete-file set changed, the
    *    rows masked by the NEW position/equality deletes emerge as deletes
    *    via a (file, row-ordinal) anti-join of the two merge-on-read scans
    *    — restricted to exactly the carried-over files, so the cost tracks
    *    the touched data, not the table.
    *
    * Output = current table schema + [[ChangeTypeCol]] /
    * [[ChangeOrdinalCol]] (0-based position of the snapshot within the
    * requested range) / [[ChangeSnapshotCol]].
    */
  def changes(spark: SparkSession, dir: Path, fromSnapshot: Option[Long] = None,
      toSnapshot: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = JsonMethods.parse(readString(conf, currentMetadataFile(conf, dir)))
    implicit val formats: Formats = DefaultFormats
    val snapsJson = (meta \ "snapshots") match {
      case JArray(ss) => ss
      case _ => Nil
    }
    val info: Map[Long, (Option[Long], String)] = snapsJson.map { s =>
      (s \ "snapshot-id").extract[Long] -> (
        (s \ "parent-snapshot-id") match {
          case JInt(p) => Some(p.toLong)
          case _ => None
        },
        (s \ "summary" \ "operation").extractOrElse[String](""))
    }.toMap
    require(info.nonEmpty, s"Iceberg table $dir has no snapshots")
    val endId = toSnapshot.getOrElse((meta \ "current-snapshot-id").extract[Long])
    require(info.contains(endId), s"snapshot $endId not found in $dir")

    // lineage newest -> oldest until (exclusive) fromSnapshot
    var chain = List.empty[Long]
    var at: Option[Long] = Some(endId)
    var sawFrom = fromSnapshot.isEmpty
    while (at.isDefined && !fromSnapshot.contains(at.get)) {
      val id = at.get
      require(info.contains(id),
        s"snapshot $id on the lineage of $endId has been expired from $dir metadata")
      chain ::= id
      at = info(id)._1
      if (fromSnapshot.contains(at.getOrElse(Long.MinValue))) sawFrom = true
    }
    require(sawFrom || fromSnapshot.isEmpty || fromSnapshot.contains(endId),
      s"snapshot ${fromSnapshot.get} is not an ancestor of $endId in $dir")
    if (fromSnapshot.contains(endId)) chain = Nil

    val cache = scala.collection.mutable.HashMap[Long, Snapshot]()
    def snapOf(id: Long): Snapshot =
      cache.getOrElseUpdate(id, snapshot(spark, dir, version = Some(id.toString),
        schemaAtSnapshot = false)) // the feed projects all rows to ONE schema
    def subSnap(s: Snapshot, keep: Set[String]): Snapshot = {
      val z = s.files.zip(s.dataFileMeta)
      val kept = z.filter { case (_, (fid, _)) => keep(fid) }
      s.copy(files = kept.map(_._1), dataFileMeta = kept.map(_._2))
    }
    def stamp(df: DataFrame, ct: String, ord: Int, id: Long): DataFrame =
      df.withColumn(ChangeTypeCol, lit(ct))
        .withColumn(ChangeOrdinalCol, lit(ord))
        .withColumn(ChangeSnapshotCol, lit(id))

    val schemaNow = snapOf(endId).schema
    schemaNow.fieldNames.intersect(Seq(ChangeTypeCol, ChangeOrdinalCol, ChangeSnapshotCol))
      .foreach(c => throw new UnsupportedOperationException(
        s"table column '$c' collides with a changelog metadata column"))
    val frames = Seq.newBuilder[DataFrame]
    chain.zipWithIndex.foreach { case (id, ord) =>
      val op = info(id)._2
      if (op != "replace") {
        val cur = snapOf(id)
        val prevOpt = info(id)._1.map(snapOf)
        val curPaths = cur.dataFileMeta.map(_._1).toSet
        val prevPaths = prevOpt.map(_.dataFileMeta.map(_._1).toSet).getOrElse(Set.empty)
        val added = curPaths -- prevPaths
        val removed = prevPaths -- curPaths
        val common = curPaths & prevPaths
        if (added.nonEmpty)
          frames += stamp(toDataFrame(spark, subSnap(cur, added))
            .select(schemaNow.fieldNames.toIndexedSeq.map(col): _*), "insert", ord, id)
        prevOpt.foreach { prev =>
          if (removed.nonEmpty)
            frames += stamp(toDataFrame(spark, subSnap(prev, removed))
              .select(schemaNow.fieldNames.toIndexedSeq.map(col): _*), "delete", ord, id)
          val delKeys = (s: Snapshot) =>
            (s.deleteFiles.map(_.path) ++ s.eqDeleteFiles.map(_.path)).toSet
          if (common.nonEmpty && delKeys(cur) != delKeys(prev)) {
            val ids = Seq("__gfid", "__grix")
            val prevRows = toDataFrameWithRowIds(spark, subSnap(prev, common))
            val curRows = toDataFrameWithRowIds(spark, subSnap(cur, common))
            val masked = prevRows.join(curRows.select(ids.map(col): _*), ids, "left_anti")
              .select(schemaNow.fieldNames.toIndexedSeq.map(col): _*)
            frames += stamp(masked, "delete", ord, id)
            // nonstandard but cheap to honor: a shrunken delete set
            // resurrects rows — surface them as inserts rather than lose them
            val unmasked = curRows.join(prevRows.select(ids.map(col): _*), ids, "left_anti")
              .select(schemaNow.fieldNames.toIndexedSeq.map(col): _*)
            frames += stamp(unmasked, "insert", ord, id)
          }
        }
      }
    }
    val built = frames.result()
    if (built.isEmpty) {
      val out = StructType(schemaNow.fields ++ Seq(
        StructField(ChangeTypeCol, StringType, nullable = false),
        StructField(ChangeOrdinalCol, IntegerType, nullable = false),
        StructField(ChangeSnapshotCol, LongType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    } else built.reduce(_.unionByName(_))
  }
}
